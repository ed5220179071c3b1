package graft

import graft.sources.LogTable
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The SQL surface: a Trino user of the reference queries tables with
  * SQL, so registered views must answer plain spark.sql() with the
  * same results as the DataFrame operators — including over a live
  * LogTable. */
class SqlSurfaceSpec extends SparkSpec {

  test("registerAll exposes every corpus table to spark.sql with exact semantics") {
    Tables.registerAll(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT event_type, count(*) AS cnt
        |FROM events GROUP BY event_type
        |ORDER BY cnt DESC, event_type""".stripMargin).collect().toSeq
    val viaDf = operators.LogAnalytics.logByType(spark, sfDir)
      .select(col("event_type"), col("cnt")).collect().toSeq
    assert(viaSql.nonEmpty && viaSql === viaDf)
    // joins across registered views work too
    val nations = spark.sql(
      "SELECT count(*) FROM nation JOIN region ON n_regionkey = r_regionkey")
      .head().getLong(0)
    assert(nations === 25L)
    // integer time domain preserved in the view
    assert(spark.sql("SELECT min(ts_us) FROM events").head().get(0).isInstanceOf[Long])
  }

  test("registerViews exposes data + history + files metadata tables to SQL") {
    import spark.implicits._
    val t = LogTable(spark, Files.createTempDirectory("sql_meta_").toString)
    t.append((0 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    t.append((40 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    t.compact()
    t.registerViews("lt")

    assert(spark.sql("SELECT count(*) FROM lt").head().getLong(0) === 50L)
    // history: 3 commits in order, operations visible to SQL
    val ops = spark.sql("SELECT operation FROM lt_history ORDER BY version")
      .as[String].collect().toSeq
    assert(ops === Seq("append", "append", "compact"))
    // files: manifest stats queryable — row counts must reconcile
    val fileRows = spark.sql("SELECT sum(rows) FROM lt_files").head().getLong(0)
    assert(fileRows === 50L)
    // column ranges surfaced for skipping diagnostics
    val ranges = spark.sql("SELECT ranges FROM lt_files").as[String].collect()
    assert(ranges.forall(_.contains("id:[")), s"missing id range in ${ranges.toSeq}")
    // refs: tags and branches with resolved versions
    t.createRef("prod")
    t.createBranch("wip")
    t.registerViews("lt")
    val refs = spark.sql("SELECT name, type, version FROM lt_refs ORDER BY type, name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs === Seq(("wip", "branch", 1L), ("prod", "tag", 3L)))
    t.dropBranch("wip")
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("GraftSql INSERT/UPDATE/DELETE are byte-equal to the API calls") {
    import spark.implicits._
    import graft.sources.GraftSql
    // two tables, same lifecycle: one driven through SQL, one through API
    val sqlT = LogTable(spark, Files.createTempDirectory("gsql_dml_").toString)
    val apiT = LogTable(spark, Files.createTempDirectory("gsql_dml_api_").toString)
    GraftSql.register("gsql_t", sqlT)
    (0 until 100).map(i => (i.toLong, s"u${i % 7}", i * 1.5))
      .toDF("id", "user", "score").createOrReplaceTempView("gsql_src")

    GraftSql.exec(spark, "INSERT INTO gsql_t SELECT * FROM gsql_src WHERE id % 2 = 0")
    GraftSql.exec(spark, "INSERT INTO gsql_t SELECT * FROM gsql_src WHERE id % 2 = 1;")
    apiT.append(spark.table("gsql_src").filter(col("id") % 2 === 0))
    apiT.append(spark.table("gsql_src").filter(col("id") % 2 === 1))

    GraftSql.exec(spark,
      "UPDATE gsql_t SET score = score + 100.0, user = 'bumped' WHERE id % 10 = 3")
    apiT.update(col("id") % 10 === 3,
      Map("score" -> (col("score") + 100.0), "user" -> lit("bumped")))

    GraftSql.exec(spark, "DELETE FROM gsql_t WHERE user = 'u5'")
    apiT.delete(col("user") === "u5")

    assert(collectSorted(sqlT.read()) === collectSorted(apiT.read()))
    assert(sqlT.read().count() > 0)
    // the registered view tracks the mutations without re-registering
    assert(spark.sql("SELECT count(*) FROM gsql_t").head().getLong(0) ===
      apiT.read().count())
    // DML returns a snapshot summary row
    val s = GraftSql.exec(spark, "DELETE FROM gsql_t WHERE id = 0")
    assert(s.columns.toSeq === Seq("version", "operation", "n_files", "total_rows"))
    assert(s.head().getString(1) === "delete")
  }

  test("GraftSql MERGE with full clause surface is byte-equal to the API merge") {
    import spark.implicits._
    import graft.sources.GraftSql
    val sqlT = LogTable(spark, Files.createTempDirectory("gsql_merge_").toString)
    val apiT = LogTable(spark, Files.createTempDirectory("gsql_merge_api_").toString)
    GraftSql.register("gsql_m", sqlT)
    val base = (0 until 60).map(i => (i.toLong, s"t${i % 5}", i * 2.0)).toDF("id", "kind", "v")
    sqlT.append(base); apiT.append(base)
    // source: ids 0..19 matched (updates), 100..104 unmatched (inserts)
    ((0 until 20).map(i => (i.toLong, s"t${i % 5}", 1000.0 + i)) ++
      (100 until 105).map(i => (i.toLong, "fresh", i.toDouble)))
      .toDF("id", "kind", "v").createOrReplaceTempView("gsql_upd")

    GraftSql.exec(spark,
      """MERGE INTO gsql_m t USING gsql_upd s ON t.id = s.id
        |WHEN MATCHED AND t.kind = 't1' THEN DELETE
        |WHEN MATCHED AND s.v > 1005.0 THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.kind = 't4' THEN DELETE""".stripMargin)
    apiT.merge(spark.table("gsql_upd"), "id",
      matchedUpdateWhen = Some(col("src_v") > 1005.0),
      matchedDeleteWhen = Some(col("kind") === "t1"),
      notMatchedBySourceDelete = Some(col("kind") === "t4"))
    assert(collectSorted(sqlT.read()) === collectSorted(apiT.read()))

    // MERGE without an INSERT clause must NOT insert unmatched source rows
    val pre = sqlT.read().count()
    GraftSql.exec(spark,
      """MERGE INTO gsql_m t USING (SELECT CAST(9999 AS BIGINT) AS id, 'x' AS kind, CAST(1.0 AS DOUBLE) AS v) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(sqlT.read().count() === pre)
    assert(sqlT.read().filter(col("id") === 9999L).count() === 0L)
  }

  test("GraftSql time travel: @vN, @ref, @branch, VERSION AS OF, TIMESTAMP AS OF") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_tt_").toString)
    GraftSql.register("gsql_tt", t)
    t.append((0 until 10).map(i => (i.toLong, "a")).toDF("id", "tag"))   // v1
    val afterV1 = System.currentTimeMillis()
    t.append((10 until 30).map(i => (i.toLong, "b")).toDF("id", "tag"))  // v2
    t.createRef("rc1", 1L)
    val b = t.createBranch("audit")
    b.append(Seq((99L, "branch-only")).toDF("id", "tag"))

    assert(GraftSql.exec(spark, "SELECT count(*) FROM gsql_tt").head().getLong(0) === 30L)
    assert(GraftSql.exec(spark, "SELECT count(*) FROM gsql_tt@v1").head().getLong(0) === 10L)
    assert(GraftSql.exec(spark, "SELECT count(*) FROM gsql_tt@rc1").head().getLong(0) === 10L)
    assert(GraftSql.exec(spark, "SELECT count(*) FROM gsql_tt@audit").head().getLong(0) === 31L)
    assert(GraftSql.exec(spark,
      "SELECT count(*) FROM gsql_tt VERSION AS OF 1").head().getLong(0) === 10L)
    assert(GraftSql.exec(spark,
      s"SELECT count(*) FROM gsql_tt TIMESTAMP AS OF $afterV1").head().getLong(0) === 10L)
    // time travel composes inside a bigger query (join current vs @v1)
    val grown = GraftSql.exec(spark,
      """SELECT count(*) FROM gsql_tt cur
        |LEFT ANTI JOIN gsql_tt@v1 old ON cur.id = old.id""".stripMargin)
      .head().getLong(0)
    assert(grown === 20L)
  }

  test("GraftSql CALL procedures route to the maintenance API") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_call_").toString)
    GraftSql.register("gsql_c", t)
    (0 until 3).foreach { i =>
      t.append((i * 10 until (i + 1) * 10).map(j => (j.toLong, s"v$j")).toDF("id", "v").coalesce(1))
    }
    GraftSql.exec(spark, "CALL compact(gsql_c)")
    assert(t.snapshot().operation === "compact")
    assert(t.snapshot().files.size === 1)
    // scoped compaction: CALL compact(t, '<part-col>', '<value>')
    val ts = LogTable(spark, Files.createTempDirectory("gsql_cw_").toString,
      partitionBy = Seq("kind"))
    GraftSql.register("gsql_cw", ts)
    (0 until 3).foreach(i =>
      ts.append(Seq((i.toLong, "a"), (i + 10L, "b")).toDF("id", "kind")))
    val beforeB = ts.snapshot().files
      .filter(_.partitions.get("kind").contains("b")).map(_.path).toSet
    GraftSql.exec(spark, "CALL compact(gsql_cw, 'kind', 'a')")
    assert(ts.snapshot().files.count(_.partitions.get("kind").contains("a")) === 1)
    assert(ts.snapshot().files.filter(_.partitions.get("kind").contains("b"))
      .map(_.path).toSet === beforeB)
    assert(spark.sql("SELECT count(*) FROM gsql_c").head().getLong(0) === 30L)
    // VACUUM dry run vs real sweep over a planted aged orphan
    val orphan = java.nio.file.Paths.get(t.root, "data", "stray.parquet")
    java.nio.file.Files.createFile(orphan)
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L))
    GraftSql.exec(spark, "CALL remove_orphans(gsql_c, 'dry_run')")
    assert(java.nio.file.Files.exists(orphan), "dry run must not delete")
    GraftSql.exec(spark, "CALL remove_orphans(gsql_c)")
    assert(!java.nio.file.Files.exists(orphan), "the real sweep must reclaim")

    GraftSql.exec(spark, "CALL rollback(gsql_c, 2)")
    assert(GraftSql.exec(spark, "SELECT count(*) FROM gsql_c").head().getLong(0) === 20L)
    GraftSql.exec(spark, "CALL create_ref(gsql_c, 'keeper')")
    assert(t.refVersion("keeper") === t.currentVersion)

    // merge-on-read upsert through SQL: one matched key replaced, one
    // new key inserted — no data file rewritten
    Seq((5L, "UP5"), (25L, "NEW25")).toDF("id", "v")
      .createOrReplaceTempView("gsql_c_src")
    val filesBefore = t.snapshot().files.map(_.path).toSet
    GraftSql.exec(spark, "CALL merge_mor(gsql_c, id, 'SELECT * FROM gsql_c_src')")
    assert(t.snapshot().operation === "mor-merge")
    assert(filesBefore.subsetOf(t.snapshot().files.map(_.path).toSet))
    assert(spark.sql("SELECT count(*) FROM gsql_c").head().getLong(0) === 21L)
    assert(GraftSql.exec(spark, "SELECT v FROM gsql_c WHERE id = 5")
      .head().getString(0) === "UP5")

    // n-D z-order through SQL (column list as one quoted argument)
    val tz = LogTable(spark, Files.createTempDirectory("gsql_z_").toString)
    GraftSql.register("gsql_z", tz)
    tz.append((0 until 100).map(i => (i.toLong % 10, i.toLong / 10, i.toLong))
      .toDF("x", "y", "id"))
    GraftSql.exec(spark, "CALL recluster_z(gsql_z, 'x, y', 2)")
    assert(tz.snapshot().operation === "recluster")
    assert(spark.sql("SELECT count(*) FROM gsql_z").head().getLong(0) === 100L)

    // NDV stats maintenance through SQL
    GraftSql.exec(spark, "CALL analyze(gsql_z)")
    assert(tz.snapshot().operation === "analyze")
    assert(tz.snapshot().ndvs("id") > 90L)
  }

  test("GraftSql CALL evolve_spec changes the layout for future writes only") {
    import spark.implicits._
    import graft.sources.{GraftSql, LogTable => LT, Transform}
    val t = LT(spark, Files.createTempDirectory("gsql_evo_").toString)
    GraftSql.register("gsql_e", t)
    GraftSql.exec(spark,
      "INSERT INTO gsql_e (ts_us, op) VALUES (1704067200000000, 'get'), (1704067200000001, 'put')")
    GraftSql.exec(spark, "CALL evolve_spec(gsql_e, 'day(ts_us), op')")
    // later statements go through the evolved handle: new files carry
    // the new layout keys, old files stay as written
    GraftSql.exec(spark,
      "INSERT INTO gsql_e (ts_us, op) VALUES (1704153600000000, 'get')")
    val re = LT(spark, t.root)
    assert(re.partitionBy === Seq("op"))
    assert(re.hiddenBy === Seq(Transform.day("ts_us")))
    val (old, fresh) = re.snapshot().files.partition(_.partitions.isEmpty)
    assert(old.nonEmpty && fresh.nonEmpty)
    assert(fresh.forall(_.partitions.contains("op")))
    assert(spark.sql("SELECT count(*) FROM gsql_e").head().getLong(0) === 3L)
    // the INSERT was written under a schema where ts_us/op were plain
    // columns — the mixed read still answers exactly
    assert(GraftSql.exec(spark,
        "SELECT op, count(*) AS n FROM gsql_e GROUP BY op ORDER BY op")
      .as[(String, Long)].collect().toSeq === Seq(("get", 2L), ("put", 1L)))
  }

  test("GraftSql ALTER TABLE renames and drops columns through the manifest") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_alter_").toString)
    GraftSql.register("gsql_a", t)
    t.append((0 until 5).map(i => (i.toLong, i * 10L, s"x$i")).toDF("id", "score", "note"))
    GraftSql.exec(spark, "ALTER TABLE gsql_a RENAME COLUMN score TO points")
    // the registered view flips to the evolved schema immediately
    assert(GraftSql.exec(spark, "SELECT sum(points) FROM gsql_a").head().getLong(0) === 100L)
    GraftSql.exec(spark, "ALTER TABLE gsql_a DROP COLUMN note")
    assert(spark.table("gsql_a").columns.toSeq === Seq("id", "points"))
    // ADD COLUMN: metadata-only; old rows read NULL, new appends carry it
    GraftSql.exec(spark, "ALTER TABLE gsql_a ADD COLUMN hm INT")
    assert(spark.table("gsql_a").columns.toSeq === Seq("id", "points", "hm"))
    assert(GraftSql.exec(spark,
      "SELECT count(*) FROM gsql_a WHERE hm IS NULL").head().getLong(0) === 5L)
    t.append(Seq((100L, 1000L, 7)).toDF("id", "points", "hm"))
    assert(GraftSql.exec(spark,
      "SELECT sum(hm) FROM gsql_a").head().getLong(0) === 7L)
    // a dropped name cannot come back (old files still hold its values)
    intercept[Exception] {
      GraftSql.exec(spark, "ALTER TABLE gsql_a ADD COLUMN note STRING")
    }
  }

  test("GraftSql rejects unsupported statement shapes loudly") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_rej_").toString)
    GraftSql.register("gsql_r", t)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // unregistered DML target
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "DELETE FROM not_registered WHERE id = 1") }
    // MERGE without a source alias
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "MERGE INTO gsql_r USING x ON gsql_r.id = x.id WHEN MATCHED THEN DELETE") }
    // MERGE ON with different columns
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark,
        "MERGE INTO gsql_r t USING gsql_r s ON t.id = s.other WHEN MATCHED THEN DELETE") }
    // INSERT with a SELECT body in MERGE (only * / (cols) VALUES supported)
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark,
        "MERGE INTO gsql_r t USING gsql_r s ON t.id = s.id WHEN NOT MATCHED THEN INSERT SELECT 1") }
    // MERGE SET of an unknown column fails before any scan
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark,
        "MERGE INTO gsql_r t USING gsql_r s ON t.id = s.id WHEN MATCHED THEN UPDATE SET nope = 1") }
    // unknown CALL
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "CALL vacuum_everything(gsql_r)") }
  }

  test("GraftSql CREATE/DROP TABLE: the whole lifecycle in SQL with zero Scala setup") {
    import graft.sources.GraftSql
    GraftSql.setWarehouse(Files.createTempDirectory("gsql_wh_").toString)
    GraftSql.exec(spark,
      """CREATE TABLE gsql_ddl (id INT, kind STRING, v DOUBLE, ts_us BIGINT)
        |PARTITIONED BY (day(ts_us))""".stripMargin)
    // declared schema is visible BEFORE any data lands
    assert(spark.table("gsql_ddl").columns.toSeq === Seq("id", "kind", "v", "ts_us"))
    assert(spark.sql("SELECT count(*) FROM gsql_ddl").head().getLong(0) === 0L)

    GraftSql.exec(spark,
      """INSERT INTO gsql_ddl SELECT * FROM VALUES
        |  (1, 'a', 1.5D, 86400000000), (2, 'b', 2.5D, 172800000000),
        |  (3, 'a', 3.5D, 172800000001) AS t(id, kind, v, ts_us)""".stripMargin)
    assert(GraftSql.exec(spark,
      "SELECT count(*) FROM gsql_ddl WHERE kind = 'a'").head().getLong(0) === 2L)
    // hidden day(ts_us) partitioning took effect on the DDL path
    val t = GraftSql.table("gsql_ddl")
    assert(t.snapshot().files.forall(_.partitions.keys.exists(_.contains("ts_us"))))
    assert(t.snapshot().files.map(_.partitions.values.toSeq).distinct.size === 2)

    // ALTER COLUMN TYPE widens through SQL; pre-widen int files still read
    GraftSql.exec(spark, "ALTER TABLE gsql_ddl ALTER COLUMN id TYPE BIGINT")
    assert(GraftSql.exec(spark, "SELECT sum(id) FROM gsql_ddl").head().getLong(0) === 6L)

    // CREATE IF NOT EXISTS over a live table is a no-op; bare CREATE throws
    GraftSql.exec(spark, "CREATE TABLE IF NOT EXISTS gsql_ddl (x INT)")
    assert(GraftSql.exec(spark, "SELECT count(*) FROM gsql_ddl").head().getLong(0) === 3L)
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "CREATE TABLE gsql_ddl (x INT)") }

    // DROP TABLE purges: root gone, name free, IF EXISTS tolerant
    val root = t.root
    GraftSql.exec(spark, "DROP TABLE gsql_ddl")
    assert(!Files.exists(java.nio.file.Paths.get(root)))
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "INSERT INTO gsql_ddl SELECT 1") }
    GraftSql.exec(spark, "DROP TABLE IF EXISTS gsql_ddl") // no-op, no throw
  }

  test("GraftSql CREATE MATERIALIZED VIEW: incremental rollup lifecycle in SQL") {
    import graft.sources.GraftSql
    val wh = Files.createTempDirectory("gsql_mv_wh_").toString
    GraftSql.setWarehouse(wh)
    GraftSql.exec(spark, "DROP TABLE IF EXISTS gsql_mv_base")
    GraftSql.exec(spark,
      "CREATE TABLE gsql_mv_base (id BIGINT, kind STRING, v DOUBLE)")
    GraftSql.exec(spark,
      """CREATE MATERIALIZED VIEW gsql_mv AS
        |SELECT kind, count(*) AS n, sum(v) AS total, max(v) AS hi
        |FROM gsql_mv_base GROUP BY kind""".stripMargin)

    GraftSql.exec(spark,
      """INSERT INTO gsql_mv_base SELECT * FROM VALUES
        |  (1, 'a', 1.5D), (2, 'b', 2.5D), (3, 'a', 3.5D) AS t(id, kind, v)""".stripMargin)
    GraftSql.exec(spark, "CALL refresh_mv(gsql_mv)")
    assert(GraftSql.exec(spark,
      "SELECT n, total, hi FROM gsql_mv WHERE kind = 'a'")
      .head().toSeq === Seq(2L, 5.0, 3.5))

    // second batch folds incrementally; the view joins like any table
    GraftSql.exec(spark,
      "INSERT INTO gsql_mv_base SELECT * FROM VALUES (4, 'a', 4.0D) AS t(id, kind, v)")
    GraftSql.exec(spark, "CALL refresh_mv(gsql_mv)")
    assert(GraftSql.exec(spark,
      "SELECT n, total, hi FROM gsql_mv WHERE kind = 'a'")
      .head().toSeq === Seq(3L, 9.0, 4.0))

    // row-changing base op: refresh_mv falls back to a full rebuild
    GraftSql.exec(spark, "DELETE FROM gsql_mv_base WHERE kind = 'b'")
    GraftSql.exec(spark, "CALL refresh_mv(gsql_mv)")
    assert(GraftSql.exec(spark, "SELECT count(*) FROM gsql_mv")
      .head().getLong(0) === 1L)

    // avg rides as fused sum+count state (round 10); a truly
    // unsupported aggregate still refuses loudly
    GraftSql.exec(spark,
      """CREATE MATERIALIZED VIEW gsql_mv2 AS
        |SELECT kind, avg(v) AS m FROM gsql_mv_base GROUP BY kind""".stripMargin)
    GraftSql.exec(spark, "CALL refresh_mv(gsql_mv2)")
    assert(GraftSql.exec(spark,
      "SELECT m FROM gsql_mv2 WHERE kind = 'a'").head().getDouble(0) === 3.0)
    GraftSql.exec(spark, "DROP MATERIALIZED VIEW gsql_mv2")
    val e = intercept[IllegalArgumentException] {
      GraftSql.exec(spark,
        """CREATE MATERIALIZED VIEW gsql_mv3 AS
          |SELECT kind, median(v) AS m FROM gsql_mv_base GROUP BY kind""".stripMargin)
    }
    assert(e.getMessage.contains("unsupported select item"))

    // DROP MATERIALIZED VIEW purges state; IF EXISTS tolerant
    val mvRoot = java.nio.file.Paths.get(wh).resolve("gsql_mv")
    assert(Files.exists(mvRoot))
    GraftSql.exec(spark, "DROP MATERIALIZED VIEW gsql_mv")
    assert(!Files.exists(mvRoot))
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "CALL refresh_mv(gsql_mv)") }
    GraftSql.exec(spark, "DROP MATERIALIZED VIEW IF EXISTS gsql_mv")
    GraftSql.exec(spark, "DROP TABLE gsql_mv_base")
  }

  test("GraftSql MERGE column-level SET / INSERT lists are byte-equal to the API") {
    import spark.implicits._
    import graft.sources.GraftSql
    val sqlT = LogTable(spark, Files.createTempDirectory("gsql_mcol_").toString)
    val apiT = LogTable(spark, Files.createTempDirectory("gsql_mcol_api_").toString)
    GraftSql.register("gsql_mc", sqlT)
    val base = (0 until 30).map(i => (i.toLong, s"k${i % 3}", i * 2.0)).toDF("id", "kind", "v")
    sqlT.append(base); apiT.append(base)
    // source carries an EXTRA column: with both clauses column-level it
    // must stay an expression input only (no schema evolution)
    ((0 until 10).map(i => (i.toLong, s"k${i % 3}", 100.0 + i, i * 10.0)) ++
      (50 until 55).map(i => (i.toLong, "new", i.toDouble, 1.0)))
      .toDF("id", "kind", "v", "extra").createOrReplaceTempView("gsql_mc_src")

    GraftSql.exec(spark,
      """MERGE INTO gsql_mc t USING gsql_mc_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v + s.extra, kind = concat(t.kind, '+')
        |WHEN NOT MATCHED THEN INSERT (id, kind) VALUES (s.id, concat('new-', s.kind))""".stripMargin)
    apiT.merge(spark.table("gsql_mc_src"), "id",
      matchedSet = Some(Map(
        "v" -> (col("src_v") + col("src_extra")),
        "kind" -> concat(col("kind"), lit("+")))),
      insertValues = Some(Map(
        "id" -> col("id"),
        "kind" -> concat(lit("new-"), col("kind")))))

    assert(collectSorted(sqlT.read()) === collectSorted(apiT.read()))
    // no schema evolution: 'extra' never became a table column, and the
    // unlisted insert column 'v' landed as a typed null
    assert(sqlT.read().columns.toSeq === Seq("id", "kind", "v"))
    assert(sqlT.read().filter(col("id") === 50L).select("v").head().isNullAt(0))
    assert(sqlT.read().filter(col("id") === 0L).select("v").head().getDouble(0) === 100.0)
    assert(sqlT.read().filter(col("kind") === "k0+").count() > 0)
  }

  test("time-travel tokens inside string literals are data, not table references") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_lit_").toString)
    GraftSql.register("gsql_lit", t)
    t.append(Seq((1L, "gsql_lit@v1"), (2L, "plain")).toDF("id", "note")) // v1
    t.append(Seq((3L, "gsql_lit@v1")).toDF("id", "note"))                // v2

    // the literal must survive byte-identical or the filter matches nothing
    assert(GraftSql.exec(spark,
      "SELECT count(*) FROM gsql_lit WHERE note = 'gsql_lit@v1'")
      .head().getLong(0) === 2L)
    // a real table token and a literal twin in the SAME statement:
    // the reference rewrites, the literal does not
    assert(GraftSql.exec(spark,
      "SELECT count(*) FROM gsql_lit@v1 WHERE note = 'gsql_lit@v1'")
      .head().getLong(0) === 1L)
    // SQL '' escaping inside literals does not confuse the scanner
    assert(GraftSql.exec(spark,
      "SELECT count(*) FROM gsql_lit WHERE note = 'it''s gsql_lit@v1'")
      .head().getLong(0) === 0L)
  }

  test("SELECT COUNT(*) answers from manifest arithmetic — zero data I/O") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_cnt_").toString)
    GraftSql.register("gsql_cnt", t)
    t.append((0 until 123).map(i => (i.toLong, s"v$i")).toDF("id", "v"))

    // fast path matches the scan answer, plain and aliased
    assert(GraftSql.exec(spark, "SELECT COUNT(*) FROM gsql_cnt").head().getLong(0) === 123L)
    val aliased = GraftSql.exec(spark, "SELECT count(*) AS n FROM gsql_cnt")
    assert(aliased.columns.toSeq === Seq("n") && aliased.head().getLong(0) === 123L)

    // the proof it never opens a data file: move the data pool away
    val data = java.nio.file.Paths.get(t.root).resolve("data")
    val hidden = java.nio.file.Paths.get(t.root).resolve("data_x")
    Files.move(data, hidden)
    try assert(GraftSql.exec(spark, "SELECT COUNT(*) FROM gsql_cnt")
      .head().getLong(0) === 123L)
    finally Files.move(hidden, data)

    // exact under merge-on-read deletes (manifest arithmetic subtracts)
    t.deleteMor(col("id") < 23)
    assert(GraftSql.exec(spark, "SELECT COUNT(*) FROM gsql_cnt").head().getLong(0) === 100L)
    // any other shape falls through to the real scan (ids 50..122 live)
    assert(GraftSql.exec(spark,
      "SELECT COUNT(*) FROM gsql_cnt WHERE id >= 50").head().getLong(0) === 73L)
  }

  test("a catalog SELECT COUNT(*) over a table with no data/ leaves no data/ behind") {
    import spark.implicits._
    val wh = Files.createTempDirectory("gsql_nodata_wh_")
    val t = LogTable(spark, wh.resolve("t").toString)
    t.append((0 until 7).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    spark.conf.set("spark.sql.catalog.gsql_nodata", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql_nodata.warehouse", wh.toString)
    val data = wh.resolve("t").resolve("data")
    val hidden = wh.resolve("t").resolve("data_x")
    Files.move(data, hidden)
    try {
      // opening an existing table writes nothing to the store, and the
      // count comes from the manifest (no data file is opened)
      assert(spark.sql("SELECT COUNT(*) FROM gsql_nodata.t").head().getLong(0) === 7L)
      assert(!Files.exists(data), "a catalog read created data/")
    } finally Files.move(hidden, data)
  }

  test("GraftSql: a name that is both a tag and a branch reads the tag") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_tagbr_").toString)
    GraftSql.register("gsql_tagbr", t)
    t.append((0 until 4).map(i => (i.toLong, "a")).toDF("id", "k"))  // v1
    t.createRef("both", 1L)
    t.append((4 until 10).map(i => (i.toLong, "b")).toDF("id", "k")) // v2
    t.createBranch("both").append(Seq((99L, "c")).toDF("id", "k"))
    for (stmt <- Seq("SELECT count(*) FROM gsql_tagbr@both",
        "SELECT count(*) FROM gsql_tagbr VERSION AS OF 'both'"))
      assert(GraftSql.exec(spark, stmt).head().getLong(0) === 4L, stmt)
  }

  test("GraftSql time travel and table functions resolve inside INSERT and MERGE sources") {
    import spark.implicits._
    import graft.sources.GraftSql
    val a = LogTable(spark, Files.createTempDirectory("gsql_ttw_a_").toString)
    GraftSql.register("gsql_ttw_a", a)
    a.append((0 until 5).map(i => (i.toLong, s"x$i")).toDF("id", "v"))    // v1
    a.append((5 until 12).map(i => (i.toLong, s"x$i")).toDF("id", "v"))   // v2
    // each statement reads a's v1 (5 rows) or its changes from v0 (12)
    val cases = Seq(
      "INSERT INTO gsql_ttw_b SELECT * FROM gsql_ttw_a VERSION AS OF 1" -> 5L,
      "INSERT INTO gsql_ttw_b SELECT * FROM gsql_ttw_a@v1" -> 5L,
      "INSERT INTO gsql_ttw_b SELECT id, v FROM table_changes(gsql_ttw_a, 0)" -> 12L,
      """MERGE INTO gsql_ttw_b USING gsql_ttw_a@v1 s ON gsql_ttw_b.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin -> 5L)
    val failed = cases.flatMap { case (stmt, rows) =>
      val b = LogTable(spark, Files.createTempDirectory("gsql_ttw_b_").toString)
      b.append(Seq((-1L, "seed")).toDF("id", "v"))
      GraftSql.register("gsql_ttw_b", b)
      try {
        GraftSql.exec(spark, stmt)
        val n = b.read().count() - 1
        if (n == rows) None else Some(s"$stmt: $n rows, expected $rows")
      } catch { case e: Exception => Some(s"$stmt: ${e.toString.take(160)}") }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("GraftSql resolver edges: CTE shadowing, subqueries, case, EXPLAIN") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_edge_").toString)
    GraftSql.register("gsql_edge", t)
    t.append((0 until 6).map(i => (i.toLong, "a")).toDF("id", "k"))   // v1
    t.append((6 until 10).map(i => (i.toLong, "b")).toDF("id", "k"))  // v2
    def count(sql: String): Long = GraftSql.exec(spark, sql).head().getLong(0)
    // a CTE named like the registered table shadows it; its own body
    // still reads the table
    assert(count("WITH gsql_edge AS (SELECT 1 AS id) SELECT count(*) FROM gsql_edge") === 1L)
    assert(count("""WITH gsql_edge AS (SELECT * FROM gsql_edge WHERE id < 3)
      |SELECT count(*) FROM gsql_edge""".stripMargin) === 3L)
    // registered names and time travel inside IN / EXISTS / scalar subqueries
    assert(count("""SELECT count(*) FROM gsql_edge
      |WHERE id NOT IN (SELECT id FROM gsql_edge VERSION AS OF 1)""".stripMargin) === 4L)
    assert(count("""SELECT count(*) FROM gsql_edge c WHERE EXISTS
      |(SELECT 1 FROM gsql_edge VERSION AS OF 1 o WHERE o.id = c.id)""".stripMargin) === 6L)
    assert(count("""SELECT (SELECT count(*) FROM gsql_edge VERSION AS OF 1) +
      |(SELECT count(*) FROM gsql_edge)""".stripMargin) === 16L)
    // an upper-case spelling names the same table
    assert(count("SELECT count(*) FROM GSQL_EDGE WHERE k = 'b'") === 4L)
    // EXPLAIN plans the time-travelled statement
    val plan = GraftSql.exec(spark, "EXPLAIN SELECT count(*) FROM gsql_edge@v1")
      .head().getString(0)
    assert(plan.contains("Physical Plan") && !plan.toLowerCase.contains("error"), plan)
  }

  test("GraftSql write targets resolve names as reads do: exact, then case-insensitively") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_case_").toString)
    GraftSql.register("probe_case", t)
    t.append((1 to 4).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    def count(sql: String): Long = GraftSql.exec(spark, sql).head().getLong(0)
    GraftSql.exec(spark, "DELETE FROM PROBE_CASE WHERE id = 1")
    assert(count("SELECT count(*) FROM probe_case") === 3L)
    GraftSql.exec(spark,
      "INSERT INTO PROBE_CASE SELECT id + 10 AS id, v FROM probe_case WHERE id <= 3")
    assert(count("SELECT count(*) FROM probe_case") === 5L)
    assert(count("SELECT count(*) FROM probe_case WHERE id > 10") === 2L)
    // the registered table took both writes; the name stays as registered
    assert(t.snapshot().liveRows === 5L)
    assert(GraftSql.table("Probe_Case") eq t)
    GraftSql.unregister("probe_case")
  }

  test("a LogTable registers as a view and answers SQL across commits") {
    import spark.implicits._
    val t = LogTable(spark, Files.createTempDirectory("sql_table_").toString)
    t.append((0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    t.read().createOrReplaceTempView("log_table")
    assert(spark.sql("SELECT count(*) FROM log_table").head().getLong(0) === 10L)
    // views capture the snapshot at registration; re-register to see
    // new commits (same contract as Iceberg's snapshot-scoped reads)
    t.append((10 until 25).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    t.read().createOrReplaceTempView("log_table")
    assert(spark.sql("SELECT count(*) FROM log_table").head().getLong(0) === 25L)
    assert(spark.sql("SELECT max(id) FROM log_table").head().getLong(0) === 24L)
  }

  test("native expressions resolve as SQL functions (GraftExtensions)") {
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT parse_duration('1m30.5s') AS us")
      .head().getLong(0) === 90500000L)
    assert(spark.sql("SELECT parse_duration('junk') AS us").head().isNullAt(0))
    assert(spark.sql("SELECT long_dot(array(3L, -4L), array(3L, -4L)) AS d")
      .head().getLong(0) === 25L)
    // SQL calls build the SAME expressions as the Column API — results
    // are bit-identical by construction
    val sql = spark.sql(
      "SELECT simhash64(array('a','b','c'), 0) AS h, " +
        "minhash_sig(array('a','b','c'), 8) AS m, " +
        "word_shingles(array('a','b','c'), 2) AS s").head()
    import org.apache.spark.sql.functions.{array, lit}
    val api = spark.range(1).select(
      graft.functions.SimHash64.simhash64(array(lit("a"), lit("b"), lit("c")), 0).as("h"),
      graft.functions.MinHashSig.minhashSig(array(lit("a"), lit("b"), lit("c")), 8).as("m"),
      graft.functions.WordShingles.wordShingles(array(lit("a"), lit("b"), lit("c")), 2).as("s"))
      .head()
    assert(sql.getLong(0) === api.getLong(0))
    assert(sql.getSeq[Long](1) === api.getSeq[Long](1))
    assert(sql.getSeq[Long](2) === api.getSeq[Long](2))
    // a non-literal seed refuses loudly instead of mis-binding
    intercept[Exception] {
      spark.sql("SELECT simhash64(array('a'), CAST(rand()*10 AS INT))").collect()
    }
    // the build-time extensions class wires the same set without error
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
    // the table functions answer plain spark.sql as they answer GraftSql
    import spark.implicits._
    import graft.sources.{GraftSql, IcebergExport}
    val t = LogTable(spark, Files.createTempDirectory("gsql_tvf_").toString)
    GraftSql.register("gsql_tvf", t)
    t.append((0 until 5).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    t.append((5 until 9).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    t.delete(col("id") < 2)
    val dest = Files.createTempDirectory("gsql_tvf_ice_").toString
    IcebergExport.export(t, dest, history = true)
    for ((plain, viaGraft) <- Seq(
        s"SELECT * FROM iceberg_scan('$dest', 1)" ->
          s"SELECT * FROM iceberg_scan('$dest', 1)",
        s"SELECT * FROM table_changes('${t.root}', 0, 3)" ->
          "SELECT * FROM table_changes(gsql_tvf, 0, 3)")) {
      val rows = collectSorted(spark.sql(plain))
      assert(rows.nonEmpty && rows === collectSorted(GraftSql.exec(spark, viaGraft)), plain)
    }
  }

  test("table-function rewrites respect identifier boundaries") {
    import graft.sources.GraftSql
    // a user routine whose name merely ENDS in a rewrite suffix
    // (forest_view ⊃ rest_view, my_iceberg_scan ⊃ iceberg_scan) must
    // NOT be rewritten — the buggy form would hijack the arguments as
    // a catalog URI and fire an HTTP GET at parse time. The correct
    // behavior is Spark's own unresolved-routine error.
    for (stmt <- Seq(
        "SELECT * FROM forest_view('a', 'b', 'c')",
        "SELECT * FROM my_iceberg_scan('/nope')",
        "SELECT * FROM xiceberg_snapshots('/nope')")) {
      val e = intercept[Exception] { GraftSql.exec(spark, stmt) }
      val msg = e.toString
      assert(msg.contains("UNRESOLV") || msg.contains("TABLE_OR_VIEW") ||
        msg.contains("Could not resolve") || msg.contains("not found"),
        s"expected Spark resolution error for untouched statement, got: $msg")
    }
    // the real function spelled at the start of the statement still
    // rewrites (the lookbehind must not require a preceding char)
    val e2 = intercept[Exception] {
      GraftSql.exec(spark, "SELECT * FROM iceberg_snapshots('/graft_no_such_table')")
    }
    assert(!e2.toString.contains("UNRESOLVED_ROUTINE"),
      s"iceberg_snapshots should still rewrite, got: ${e2.toString.take(200)}")
  }

  test("GraftSql MERGE evaluates WHEN MATCHED clauses in textual order") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_ord_").toString)
    GraftSql.register("gsql_ord", t)
    t.append(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0)).toDF("id", "kind", "v"))
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("id", "kind", "v")
      .createOrReplaceTempView("gsql_ord_src")
    // the first matching clause wins: both kind = 'a' rows take the
    // UPDATE, only the kind = 'b' row reaches the DELETE
    GraftSql.exec(spark,
      """MERGE INTO gsql_ord t USING gsql_ord_src s ON t.id = s.id
        |WHEN MATCHED AND t.kind = 'a' THEN UPDATE SET *
        |WHEN MATCHED AND t.id > 0 THEN DELETE""".stripMargin)
    assert(collectSorted(t.read().select("id", "kind", "v")) ===
      Seq("[1,a,10.0]", "[2,a,20.0]"))
  }

  test("GraftSql MERGE: a source-alias token inside a string literal is data") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_mlit_").toString)
    GraftSql.register("gsql_mlit", t)
    t.append(Seq((1L, "s.v"), (2L, "src_v"), (3L, "plain")).toDF("id", "note"))
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "note")
      .createOrReplaceTempView("gsql_mlit_src")
    GraftSql.exec(spark,
      """MERGE INTO gsql_mlit t USING gsql_mlit_src s ON t.id = s.id
        |WHEN MATCHED AND t.note = 's.v' THEN DELETE""".stripMargin)
    assert(collectSorted(t.read().select("id", "note")) ===
      Seq("[2,src_v]", "[3,plain]"))
  }

  test("GraftSql MERGE SET * / INSERT * with an extra source column adds it") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_mevo_").toString)
    GraftSql.register("gsql_mevo", t)
    t.append(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v"))
    Seq((1L, 10.0, "e1"), (9L, 90.0, "e9")).toDF("id", "v", "extra")
      .createOrReplaceTempView("gsql_mevo_src")
    GraftSql.exec(spark,
      """MERGE INTO gsql_mevo t USING gsql_mevo_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(t.read().columns.toSeq === Seq("id", "v", "extra"))
    // matched and inserted rows carry the new column; untouched rows read NULL
    assert(collectSorted(t.read()) ===
      Seq("[1,10.0,e1]", "[2,2.0,null]", "[3,3.0,null]", "[9,90.0,e9]"))
  }

  test("GraftSql DML: unaliased target-qualified references resolve") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_q_").toString)
    GraftSql.register("gsql_q", t)
    t.append((1 to 4).map(i => (i.toLong, i * 1.0)).toDF("id", "v"))
    GraftSql.exec(spark, "UPDATE gsql_q SET v = 0 WHERE gsql_q.id = 1")
    GraftSql.exec(spark, "DELETE FROM gsql_q WHERE gsql_q.id = 2")
    Seq((3L, 30.0)).toDF("id", "v").createOrReplaceTempView("gsql_q_src")
    GraftSql.exec(spark,
      """MERGE INTO gsql_q USING gsql_q_src s ON gsql_q.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(collectSorted(t.read()) === Seq("[1,0.0]", "[3,30.0]", "[4,4.0]"))
  }

  test("GraftSql ALTER TABLE RENAME TO refuses and leaves the table in place") {
    import spark.implicits._
    import graft.sources.GraftSql
    val root = Files.createTempDirectory("gsql_rn_").toString
    val t = LogTable(spark, root)
    GraftSql.register("gsql_rn", t)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "ALTER TABLE gsql_rn RENAME TO gsql_rn2") }
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "ALTER TABLE gsql_rn SET LOCATION '/elsewhere'") }
    assert(Files.isDirectory(java.nio.file.Paths.get(root, "_graft_log")))
    assert(GraftSql.table("gsql_rn").root === root)
    intercept[IllegalArgumentException] { GraftSql.table("gsql_rn2") }
    assert(GraftSql.exec(spark, "SELECT count(*) FROM gsql_rn").head().getLong(0) === 2L)
  }

  test("GraftSql SET TBLPROPERTIES commits a multi-key list as one snapshot") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_props_").toString)
    GraftSql.register("gsql_props", t)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val before = t.currentVersion
    val r = GraftSql.exec(spark,
      "ALTER TABLE gsql_props SET TBLPROPERTIES ('k1' = 'a', 'k2' = 'b')").head()
    assert(t.currentVersion === before + 1)
    assert(r.getLong(0) === before + 1)
    GraftSql.exec(spark, "ALTER TABLE gsql_props UNSET TBLPROPERTIES ('k1', 'k2')")
    assert(t.currentVersion === before + 2)
  }

  test("GraftSql DDL/DML work under a relative warehouse and a relative root") {
    import spark.implicits._
    import graft.sources.GraftSql
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    def relative(prefix: String): String =
      cwd.relativize(Files.createTempDirectory(prefix).toAbsolutePath).toString
    val wh = relative("gsql_relwh_")
    assert(!java.nio.file.Paths.get(wh).isAbsolute)
    GraftSql.setWarehouse(wh)
    GraftSql.exec(spark, "CREATE TABLE gsql_rel (id BIGINT, v STRING)")
    // the registered table carries the declared schema
    assert(GraftSql.table("gsql_rel").read().columns.toSeq === Seq("id", "v"))
    GraftSql.exec(spark,
      "INSERT INTO gsql_rel SELECT * FROM VALUES (1L, 'a'), (2L, 'b') AS s(id, v)")
    GraftSql.exec(spark, "UPDATE gsql_rel SET v = 'z' WHERE id = 1")
    GraftSql.exec(spark, "ALTER TABLE gsql_rel ADD COLUMN w INT")
    assert(collectSorted(GraftSql.table("gsql_rel").read()) ===
      Seq("[1,z,null]", "[2,b,null]"))
    GraftSql.exec(spark, "DROP TABLE gsql_rel")
    assert(!Files.exists(java.nio.file.Paths.get(wh, "gsql_rel")))
    // a LogTable registered under a relative root
    val t = LogTable(spark, relative("gsql_relroot_"))
    GraftSql.register("gsql_relr", t)
    t.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    GraftSql.exec(spark, "DELETE FROM gsql_relr WHERE id = 2")
    assert(collectSorted(t.read()) === Seq("[1,1.0]"))
  }

  test("GraftSql CALL refuses an unknown mode instead of running the default") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql_mode_").toString)
    GraftSql.register("gsql_mode", t)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val orphan = java.nio.file.Paths.get(t.root, "data", "stray.parquet")
    Files.createFile(orphan)
    Files.setLastModifiedTime(orphan, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200000L))
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "CALL remove_orphans(gsql_mode, 'dry-run')") }
    assert(Files.exists(orphan), "an unknown mode must not run the real sweep")
    val dest = Files.createTempDirectory("gsql_mode_ice_")
    intercept[IllegalArgumentException] {
      GraftSql.exec(spark, s"CALL export_iceberg(gsql_mode, '$dest', 'histroy')") }
    assert(!Files.exists(dest.resolve("metadata")), "an unknown mode must not export")
  }

  test("GraftSql CALL addresses a registered root holding '.' and a quote") {
    import spark.implicits._
    import graft.sources.GraftSql
    val t = LogTable(spark, Files.createTempDirectory("gsql.call'q_").toString)
    GraftSql.register("gsql_dot", t)
    (0 until 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    GraftSql.exec(spark, "CALL compact(gsql_dot)")
    assert(t.snapshot().operation === "compact")
    assert(t.snapshot().files.size === 1)
    // the optional arguments GraftSql spells out reach the same table
    GraftSql.exec(spark, "CALL create_ref(gsql_dot, 'first', 1)")
    assert(t.refVersion("first") === 1L)
    val summary = GraftSql.exec(spark, "CALL analyze(gsql_dot, 'id')").head()
    assert(summary.getAs[String]("operation") === "analyze")
    assert(t.snapshot().ndvs.keySet === Set("id"))
  }

  test("source gate: GraftSql has no DDL/DML write path of its own") {
    val src = new String(Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/sources/GraftSql.scala")), "UTF-8")
    assert(!src.contains("MergeParser"))
    val calls = Seq(".update(", ".delete(", ".merge(", ".declareSchema(",
      ".renameField(", ".dropField(", ".widenField(", ".addField(",
      // maintenance: CALL forwards to the catalog's procedure table
      ".compact(", ".expire(", ".expireOlderThan(", ".rollback(",
      ".removeOrphans(", ".cloneTo(", ".deleteMor(", ".mergeMor(",
      ".deleteEq(", ".upsertEq(", ".recluster(", ".reclusterZ(",
      ".setSortOrder(", ".analyze(", ".createRef(", ".createBranch(",
      ".fastForward(", ".evolveSpec(", "IcebergExport.export(",
      "exportStatistics(", "importTable(")
      .filter(src.contains)
    assert(calls.isEmpty,
      s"GraftSql forwards DDL/DML/CALL to GraftCatalog; found ${calls.mkString(", ")}")
    // ... and reads through Spark's parser: no read path of its own
    val reads = Seq("rewriteTimeTravel", "metaCount", "CountRe", "refreshViews",
      "iceberg_", "rest_view", "table_changes\\s",
      "AS\\s+OF", ".timeTravel", ".readCdc(", "IcebergRead")
      .filter(src.contains)
    assert(reads.isEmpty,
      s"GraftSql forwards reads to GraftCatalog; found ${reads.mkString(", ")}")
  }
}
