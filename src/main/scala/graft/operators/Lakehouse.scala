package graft.operators

import graft.{Cols, Tables}
import graft.sources.{IcebergExport, IcebergImport, IcebergStatistics, LogTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** End-to-end lakehouse roundtrip over [[graft.sources.LogTable]] —
  * the reference's core mechanism as one oracle-checked operator
  * (reference README.md:191-212: buffered ingest → parquet flush →
  * atomic multi-file commit → query; compaction as maintenance).
  *
  * The roundtrip ingests `events` in three atomic appends, compacts
  * the small files, and aggregates the read-back — which must equal
  * the same aggregate computed directly over the source parquet
  * (the DuckDB oracle). Any lost/duplicated row or file in
  * append/commit/compact/read breaks the hash match.
  */
object Lakehouse {

  def lakeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir)
    // Three atomic multi-file appends (the reference's flush batches).
    (0 until 3).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(3)) === i))
    }
    // Everything is tiny at test SF → bin-packs into one file.
    table.compact()
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Copy-on-write delete roundtrip on a PARTITIONED table: ingest
    * events partitioned by event_type, row-level-delete the 'error'
    * partition, and aggregate the read-back — must equal the oracle's
    * `WHERE event_type <> 'error'` over the source parquet. Exercises
    * partitioned append, COW delete, and partition-column
    * reconstruction in one hash-checked query. */
  def lakeDelete(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_del_").toString
    val table = LogTable(s, tmp, partitionBy = Seq("event_type"))
    val ev = Tables.events(s, dir)
    (0 until 2).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(2)) === i))
    }
    table.delete(col("event_type") === "error")
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Manifest partition pruning: read ONLY the 'click' partition's
    * files (no other file is opened) and aggregate — must equal the
    * oracle's WHERE filter. At 100 TB this scan touches 1/5 of the
    * data with zero file-listing. */
  def lakePruned(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_prune_").toString
    val table = LogTable(s, tmp, partitionBy = Seq("event_type"))
    table.append(Tables.events(s, dir))
    table.readWhere(_.get("event_type").contains("click"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
  }

  /** COW MERGE roundtrip: ingest events, upsert (every 10th event gets
    * value+1000; every 17th is re-inserted under a fresh id), and
    * aggregate the read-back — must equal the oracle computing the
    * same upsert with UNION ALL set algebra over the source parquet.
    * Any lost survivor, double-applied update, or missed insert breaks
    * the hash. */
  def lakeMerge(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_merge_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    (0 until 2).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(2)) === i))
    }
    val updates = ev.filter(pmod(col("event_id"), lit(10)) === 0)
      .withColumn("value", col("value") + 1000.0)
      .unionByName(ev.filter(pmod(col("event_id"), lit(17)) === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    table.merge(updates, "event_id")
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Conditional-MERGE roundtrip (Iceberg MERGE INTO ... WHEN MATCHED
    * AND <cond> THEN UPDATE/DELETE parity): every 5th event is a
    * source row with value+1000; matched 'error' rows are DELETED,
    * matched 'click' rows take the update, other matched rows are left
    * untouched, and re-keyed rows (every 17th, fresh ids) are
    * inserted. The oracle recomputes the same clause algebra with
    * UNION ALL set arithmetic over the source parquet — a wrong clause
    * order, a double-applied update, or an inserted-though-matched row
    * breaks the hash. */
  def lakeMerge2(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_merge2_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    (0 until 2).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(2)) === i))
    }
    val updates = ev.filter(pmod(col("event_id"), lit(5)) === 0)
      .withColumn("value", col("value") + 1000.0)
      .unionByName(ev.filter(pmod(col("event_id"), lit(17)) === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    table.merge(updates, "event_id",
      matchedUpdateWhen = Some(col("event_type") === "click"),
      matchedDeleteWhen = Some(col("event_type") === "error"))
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Full-clause-surface MERGE roundtrip, adding WHEN NOT MATCHED BY
    * SOURCE THEN DELETE (ANSI/Delta parity — the sync shape "rows that
    * vanished from the source feed age out"): matched 'error' rows are
    * deleted, matched 'click' rows take the update, other matched rows
    * stay, re-keyed rows insert, and UNMATCHED 'view' rows are swept
    * out by the not-matched-by-source clause. Oracle = the same clause
    * algebra in UNION ALL set arithmetic; a clause bleeding into the
    * wrong row population breaks the hash. */
  def lakeMerge3(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_merge3_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    (0 until 2).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(2)) === i))
    }
    val updates = ev.filter(pmod(col("event_id"), lit(5)) === 0)
      .withColumn("value", col("value") + 1000.0)
      .unionByName(ev.filter(pmod(col("event_id"), lit(17)) === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    table.merge(updates, "event_id",
      matchedUpdateWhen = Some(col("event_type") === "click"),
      matchedDeleteWhen = Some(col("event_type") === "error"),
      notMatchedBySourceDelete = Some(col("event_type") === "view"))
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Column-stats file-skipping roundtrip: ingest events range-
    * partitioned on the time axis (so committed files carry disjoint
    * ts_us [min, max] ranges in the manifest), then answer a 10-day
    * window query through readRange — the scan opens only the files
    * whose footer-derived range overlaps the window (LogTableSpec
    * asserts the skip actually happens), and the residual row filter
    * makes it exact, hash-matched against DuckDB's WHERE over the
    * source parquet. This is the reference deployment's bread-and-
    * butter query (README.md:157-160 time-range scans) made
    * I/O-proportional at 100 TB. */
  def lakeSkipped(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_skip_").toString
    val table = LogTable(s, tmp)
    // time-ordered ingest (the natural log shape): 8 disjoint time slabs
    table.append(Tables.events(s, dir).repartitionByRange(8, col("ts_us")))
    val lo = 1704844800000000L            // 2024-01-10 00:00:00 UTC, µs
    val hi = 1705708800000000L - 1        // < 2024-01-20 00:00:00 UTC
    table.readRange("ts_us", lo, hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** WRITE-AUDIT-PUBLISH end to end, oracle-gated: the staging shape
    * Iceberg branches exist for — half the corpus is live on main, the
    * second half STAGES on an `audit` branch (isolated: main serves
    * readers unchanged), the audit gate COW-deletes every row it vetoes
    * ON THE BRANCH VIEW — error events, staged AND pre-existing (the
    * audit's business rule: publish a corpus purged of errors) — and
    * fastForward atomically publishes the branch head to main. The
    * read-back census must hash-equal DuckDB computing the corpus
    * minus the vetoed rows — a leaked unaudited row, a vetoed row
    * surviving publish, or a non-atomic flip breaks the hash. */
  def lakeWap(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_wap_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))
    val br = table.createBranch("audit")
    br.append(ev.filter(pmod(col("event_id"), lit(2)) === 1))
    br.delete(col("event_type") === "error") // the audit's veto
    table.fastForward("audit")
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** ROLLBACK end to end, oracle-gated: batch 1 lands, batch 2 turns
    * out bad and the table rolls back (a NEW commit adopting the prior
    * file list — history intact, readers flip atomically), batch 3
    * lands on the rolled-back state. The census must equal DuckDB over
    * batches 1+3 only — a rollback that leaks batch-2 files, or drops
    * batch-1 ones, breaks the hash. */
  def lakeRollback(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_rb_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    table.append(ev.filter(pmod(col("event_id"), lit(3)) === 0))
    table.append(ev.filter(pmod(col("event_id"), lit(3)) === 1)) // bad batch
    table.rollback(1L)
    table.append(ev.filter(pmod(col("event_id"), lit(3)) === 2))
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"),
        min(col("event_id")).as("first_event"))
      .orderBy(col("event_type"))
  }

  /** Bloom-filter point-lookup roundtrip, oracle-gated: a table whose
    * files are NOT clustered on the probe column (user_id values
    * scatter across every file, so min/max pruning is useless for
    * equality) declares a parquet bloom filter on it mid-lifecycle —
    * half the corpus lands pre-property, half post, and compact
    * retrofits the filter into rewritten files (BloomSpec
    * footer-asserts the bytes; this query gates the READ). Point
    * probes for a key set then flow through Spark's pushed In filter,
    * which consults the file-native bloom to skip row groups, and the
    * aggregate must hash-equal DuckDB's plain WHERE over the source
    * parquet — a false-negative-prone filter (the one thing a bloom
    * must never do) would drop rows and break the hash. At 100 TB this
    * is the needle-in-haystack tier of the pruning ladder: partition →
    * min/max → dictionary → bloom → residual row filter. */
  def lakeBloom(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_bloom_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))
    table.addBloom("user_id", expectedDistinct = 10000L)
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 1))
    table.compact() // retrofits the filter into every rewritten file
    val keys = Seq(3L, 11L, 59L, 101L)
    table.read()
      .filter(col("user_id").isin(keys: _*))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_type")).as("n_types"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"),
        min(col("event_id")).as("first_event"))
      .orderBy(col("user_id"))
  }

  /** COW UPDATE roundtrip (Iceberg/Delta `UPDATE ... SET ... WHERE`):
    * ingest events, surcharge every error row's value and re-tag its
    * type, and aggregate the read-back — must equal the
    * oracle computing the same CASE algebra over the source parquet.
    * A row updated twice, a missed file, or a type-drifted SET column
    * breaks the hash. */
  def lakeUpdate(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_upd_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    (0 until 2).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(2)) === i))
    }
    table.update(col("event_type") === "error",
      Map("value" -> (col("value") + 1000.0), "event_type" -> lit("error_handled")))
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** String-stats point-lookup roundtrip: ingest events, recluster on
    * the event_type column (each rewritten file then covers a compact
    * lexical slab and the manifest records its string [min, max]), and
    * answer `event_type = 'purchase'` through readRangeStr — the scan
    * opens only the files whose bounds contain 'purchase'
    * (LogTableSpec asserts the skip), the residual filter keeps it
    * exact, and the aggregate hash-matches DuckDB's WHERE. The
    * dictionary-column analog of lake_skipped's time-axis pruning. */
  def lakePoint(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_point_").toString
    val table = LogTable(s, tmp)
    table.append(Tables.events(s, dir))
    table.recluster("event_type", 5)
    table.readRangeStr("event_type", "purchase", "purchase")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
  }

  /** Incremental-read roundtrip: 3 appends, then consume the changelog
    * BETWEEN the first and third commits via readChanges — exactly the
    * rows of appends 2 and 3, hash-matched against the oracle's
    * equivalent filter over the source parquet. This is the downstream-
    * consumer pattern for the reference's continuous ingest (process
    * only what the last N commits added, never rescan the table). */
  def lakeIncremental(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_incr_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir)
    (0 until 3).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(3)) === i))
    }
    table.readChanges(fromVersion = 1L, toVersion = 3L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Incrementally-maintained MATERIALIZED VIEW lifecycle
    * ([[graft.sources.MaterializedView]]): events land in three
    * appends; after each, `refresh()` folds ONLY the appended rows
    * into the stored per-event_type rollup (O(delta), never a base
    * re-scan). A base compaction runs mid-sequence (refresh must see
    * through row-preserving maintenance) and a final extra refresh
    * must no-op on the watermark. The view's contents must equal the
    * oracle's full aggregate over the source parquet — any
    * double-fold, missed delta, or watermark drift breaks the hash. */
  def lakeMv(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{MaterializedView, MvAgg}
    val tmpB = graft.Scratch.dir("graft_lake_mv_base_").toString
    val tmpV = graft.Scratch.dir("graft_lake_mv_view_").toString
    val baseT = LogTable(s, tmpB)
    // avg rides as FUSED sum+count state over exact integer cents:
    // long partials merge exactly, and the read-time division is ONE
    // IEEE double op — bit-identical to the oracle's sum/count
    val mv = MaterializedView(s, baseT, tmpV, Seq("event_type"),
      Seq(MvAgg.Count("n"), MvAgg.Sum("total_value", Cols.money(col("value"))),
        MvAgg.Avg("avg_cents", (Cols.money(col("value")) * 100).cast("long"))))
    val ev = Tables.events(s, dir)
    (0 until 3).foreach { i =>
      baseT.append(ev.filter(pmod(col("event_id"), lit(3)) === i))
      if (i == 1) baseT.compact() // row-preserving: must fold NOTHING
      mv.refresh()
    }
    mv.refresh() // watermark no-op: nothing new to fold
    mv.read()
      .select(col("event_type"), col("n"),
        Cols.asDouble(col("total_value")).as("total_value"),
        col("avg_cents").cast("double").as("avg_cents"))
      .orderBy(col("event_type"))
  }

  /** RETRACTION-BASED IVM lifecycle ([[graft.sources.MaterializedView
    * .refreshCdc]]): two appends fold incrementally, then a COW DELETE
    * kills a whole group (which must LEAVE the view — group death) and
    * a COW UPDATE reprices one, both folded by retraction through the
    * CDC changelog — O(changed rows), never a base re-scan
    * (refreshOrFull auto-picks the CDC path for the update). The
    * view's contents must equal the oracle's update-then-filter
    * aggregate; a lingering zero group, a missed retraction, or a
    * double fold breaks the hash. */
  def lakeMvIvm(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{MaterializedView, MvAgg}
    val tmpB = graft.Scratch.dir("graft_lake_ivm_base_").toString
    val tmpV = graft.Scratch.dir("graft_lake_ivm_view_").toString
    val baseT = LogTable(s, tmpB)
    // change files on: the COW delete/update stage exact pre/post
    // images at write time, so each CDC fold is a plain file read
    // instead of a row diff — the production IVM pairing
    baseT.setProperties(Map(graft.sources.LogTable.CdcEnabledProp -> "true"))
    val mv = MaterializedView(s, baseT, tmpV, Seq("event_type"),
      Seq(MvAgg.Count("n"), MvAgg.Sum("total_value", Cols.money(col("value"))),
        MvAgg.Avg("avg_cents", (Cols.money(col("value")) * 100).cast("long"))))
    val ev = Tables.events(s, dir)
    (0 until 2).foreach { i =>
      baseT.append(ev.filter(pmod(col("event_id"), lit(2)) === i))
      mv.refresh()
    }
    baseT.delete(col("event_type") === "error") // group death
    mv.refreshCdc()
    baseT.update(col("event_type") === "click", Map("value" -> lit(12.50)))
    mv.refreshOrFull() // auto-picks the retraction path
    mv.read()
      .select(col("event_type"), col("n"),
        Cols.asDouble(col("total_value")).as("total_value"),
        col("avg_cents").cast("double").as("avg_cents"))
      .orderBy(col("event_type"))
  }

  /** SHALLOW-CLONE lifecycle ([[graft.sources.LogTable.cloneTo]]):
    * half the events land in the source, a zero-copy clone forks at
    * that snapshot, then each side diverges — the source appends the
    * other half, the clone COW-deletes its errors (rewriting borrowed
    * files into its own pool, source untouched). One frame aggregates
    * BOTH sides; wrong sharing in either direction (clone seeing the
    * source's later append, source losing the clone's deleted rows)
    * breaks the hash. */
  def lakeClone(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val srcT = LogTable(s, graft.Scratch.dir("graft_lake_clone_src_").toString)
    srcT.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))
    val clone = srcT.cloneTo(
      graft.Scratch.dir("graft_lake_clone_dst_").toString + "/t")
    srcT.append(ev.filter(pmod(col("event_id"), lit(2)) === 1))
    clone.delete(col("event_type") === "error")
    def agg(t: LogTable, side: String) = t.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .withColumn("side", lit(side))
    agg(srcT, "source").unionByName(agg(clone, "clone"))
      .select(col("side"), col("event_type"), col("n"), col("total_value"))
      .orderBy(col("side"), col("event_type"))
  }

  /** CDC changelog roundtrip ([[graft.sources.LogTable.readCdc]]):
    * ingest in three appends, COW-delete the errors, MoR-mark the
    * small values, COW-update the clicks, then read the FULL
    * changelog and aggregate it by (event_type, change type). The
    * oracle recomputes each commit's exact delta from the source
    * parquet with plain SQL set algebra — a changelog that misses a
    * row, double-reports a rewrite's carried rows, or mis-types a
    * change breaks the hash. */
  def lakeCdc(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_cdc_").toString
    val t = LogTable(s, tmp)
    val ev = Tables.events(s, dir)
    (0 until 3).foreach { i =>
      t.append(ev.filter(pmod(col("event_id"), lit(3)) === i))
    }
    t.delete(col("event_type") === "error")
    t.deleteMor(col("value") < 10)
    t.update(col("event_type") === "click",
      Map("value" -> (col("value") + lit(1000.0))))
    t.readCdc(0L)
      .groupBy(col("event_type"), col("_change_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("_change_type"))
  }

  /** The ENTIRE lifecycle through the SQL statement surface
    * ([[graft.sources.GraftSql]]) — CREATE TABLE (declared schema,
    * zero Scala-side setup, like the reference's init-setup.py DDL),
    * ingest (INSERT INTO), COW UPDATE, COW DELETE, conditional MERGE
    * with a COLUMN-LEVEL `UPDATE SET value = s.value` clause, and the
    * final aggregate all issued as SQL text, the way the reference's
    * users drive their table (its whole query catalog is Trino SQL,
    * reference README.md:125-168). The oracle recomputes the same
    * statement algebra over the source parquet: a misparsed clause, a
    * stale registered view, or a drifted condition translation breaks
    * the hash. */
  def lakeSql(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraftSql
    val tmp = graft.Scratch.dir("graft_lake_sql_").toString
    GraftSql.setWarehouse(tmp)
    GraftSql.exec(s, "DROP TABLE IF EXISTS lake_sql_t")
    GraftSql.exec(s,
      """CREATE TABLE lake_sql_t (event_id BIGINT, user_id BIGINT,
        |  event_type STRING, value DOUBLE, ts_us BIGINT)""".stripMargin)
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us")).createOrReplaceTempView("lake_sql_src")
    GraftSql.exec(s,
      "INSERT INTO lake_sql_t SELECT * FROM lake_sql_src WHERE event_id % 2 = 0")
    GraftSql.exec(s,
      "INSERT INTO lake_sql_t SELECT * FROM lake_sql_src WHERE event_id % 2 = 1")
    GraftSql.exec(s,
      """UPDATE lake_sql_t SET value = value + 1000.0, event_type = 'error_handled'
        |WHERE event_type = 'error'""".stripMargin)
    GraftSql.exec(s, "DELETE FROM lake_sql_t WHERE event_type = 'view'")
    // matched clicks take the +500 source VALUE via a column-level SET
    // (source and target agree on every other column, so the result
    // algebra equals the old whole-row replace — but the engine path is
    // the per-column expression application); deleted 'view' rows that
    // reappear in the source are re-inserted; everything else stays
    GraftSql.exec(s,
      """MERGE INTO lake_sql_t t
        |USING (SELECT event_id, user_id, event_type, value + 500.0 AS value, ts_us
        |       FROM lake_sql_src WHERE event_id % 7 = 0) s
        |ON t.event_id = s.event_id
        |WHEN MATCHED AND t.event_type = 'click' THEN UPDATE SET value = s.value
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    GraftSql.exec(s,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM lake_sql_t GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** SQL time travel joined against the current snapshot: ingest, COW
    * DELETE all non-click rows, then ask — in ONE SQL statement — for
    * the deleted rows by anti-joining the v1 snapshot (`table@v1`)
    * against the current table. Oracle = the deletion predicate over
    * the source parquet; a time-travel view bound to the wrong
    * snapshot breaks the hash. */
  def lakeSqlTt(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GraftSql
    val tmp = graft.Scratch.dir("graft_lake_tt_").toString
    GraftSql.register("lake_tt_t", LogTable(s, tmp))
    Tables.events(s, dir).select(
      col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("lake_tt_src")
    GraftSql.exec(s, "INSERT INTO lake_tt_t SELECT * FROM lake_tt_src")
    GraftSql.exec(s, "DELETE FROM lake_tt_t WHERE event_type <> 'click'")
    GraftSql.exec(s,
      """SELECT old.event_type AS event_type, count(*) AS n_deleted,
        |  CAST(sum(CAST(old.value AS DECIMAL(12,2))) AS DOUBLE) AS total_deleted
        |FROM lake_tt_t@v1 old
        |LEFT ANTI JOIN lake_tt_t cur ON old.event_id = cur.event_id
        |GROUP BY old.event_type ORDER BY event_type""".stripMargin)
  }

  /** MERGE-driven schema evolution roundtrip (Delta
    * autoMerge parity): the source carries a column the table has
    * never seen (`priority`); the merge widens the table schema,
    * matched rows take the new column's VALUES, and every untouched
    * row reads it as NULL. The aggregate counts non-null priorities
    * per type, so a merge that drops the new column on replaced rows,
    * or resurrects values onto kept rows, breaks the hash. */
  def lakeMerge4(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_merge4_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    (0 until 2).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(2)) === i))
    }
    val updates = ev.filter(pmod(col("event_id"), lit(5)) === 0)
      .withColumn("value", col("value") + 1000.0)
      .withColumn("priority", pmod(col("event_id"), lit(3)))
    table.merge(updates, "event_id")
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"),
        sum(col("priority")).cast("long").as("total_priority"),
        count(col("priority")).as("n_priority"))
      .orderBy(col("event_type"))
  }

  /** Hidden-partitioning roundtrip (Iceberg partition transforms —
    * the reference log table's natural layout, README.md:156-160):
    * ingest events into a `day(ts_us)`-hidden-partitioned table in
    * arrival order (NO pre-sorting — the transform clusters them),
    * then answer a 10-day window through readRange, which prunes to
    * the overlapping day directories via manifest metadata alone (the
    * spec asserts the skip; at 100 TB the scan is I/O-proportional to
    * the window). The derived day never exists as a column; the
    * oracle is a plain WHERE over the source parquet. */
  /** MULTI-STATEMENT TRANSACTION roundtrip: the remaining two thirds
    * of the corpus ingest and the 'error' cleanup land as ONE atomic
    * commit ([[graft.sources.LogTable.transaction]] — staged on an
    * ephemeral branch, published by fast-forward). The oracle computes
    * the end state directly; a transaction that half-applied, double-
    * published, or leaked its staging would break the hash. */
  def lakeTxn(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_txn_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    table.append(ev.filter(pmod(col("event_id"), lit(3)) === 0))
    table.transaction { tx =>
      tx.append(ev.filter(pmod(col("event_id"), lit(3)) === 1))
      tx.append(ev.filter(pmod(col("event_id"), lit(3)) === 2))
      tx.delete(col("event_type") === "error")
    }
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** METADATA-DELETE retention roundtrip: events land day-partitioned
    * (hidden transform), then the standard retention statement —
    * `DELETE WHERE ts_us < <day boundary>` — applies as a manifest-only
    * commit (strict transform intervals decide every file; zero data
    * I/O — the 100 TB retention shape). The oracle filters the source
    * directly; a wrongly-dropped boundary file or a surviving expired
    * row breaks the hash. */
  def lakeRetention(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{LogTable => LT, Transform}
    val tmp = graft.Scratch.dir("graft_lake_ret_").toString
    val table = LT(s, tmp, hiddenBy = Seq(Transform.day("ts_us")))
    table.append(Tables.events(s, dir))
    val cut = 1704844800000000L // 2024-01-10 00:00:00 UTC, µs (day boundary)
    table.delete(col("ts_us") < cut)
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** NESTED-EVOLUTION roundtrip: half the corpus ingests under a
    * payload struct (event_type, uid:int, tag), the struct then
    * evolves IN PLACE — uid widens to long, `score` is added, `tag`
    * is dropped — and the second half ingests under the new shape.
    * The read-back aggregate must equal the oracle's UNION ALL over
    * the source: a mis-null-filled add, a mis-widened read, or a
    * resurrected dropped field breaks the hash. */
  def lakeNested(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_nested_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir)
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .select(col("event_id"), struct(
        col("event_type"),
        pmod(col("user_id"), lit(1000L)).cast("int").as("uid"),
        lit("legacy").as("tag")).as("payload")))
    table.widenField("payload.uid", org.apache.spark.sql.types.LongType)
    table.addField("payload.score", org.apache.spark.sql.types.DoubleType)
    table.dropField("payload.tag")
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .select(col("event_id"), struct(
        col("event_type"),
        pmod(col("user_id"), lit(1000L)).as("uid"),
        col("value").as("score")).as("payload")))
    table.read()
      .groupBy(col("payload.event_type").as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("payload.uid")).cast("long").as("uid_sum"),
        Cols.asDouble(sum(Cols.money(coalesce(col("payload.score"), lit(0.0)))))
          .as("score_sum"))
      .orderBy(col("event_type"))
  }

  /** METADATA-ONLY RENAME lifecycle ([[graft.sources.LogTable
    * .renameColumn]] / [[graft.sources.LogTable.renameField]]): the
    * first generation lands under OLD names (top-level `eid`, nested
    * `payload.etype` / `payload.cents`), three renames rewrite ZERO
    * files, the second generation writes the NEW names, and one
    * aggregate reads both generations through the renamed schema —
    * the per-field historical-name coalesce (top-level and through
    * the struct rebuild) must resolve every old file or the counts,
    * sums and ids drift from the oracle's plain union. */
  def lakeRename(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_rename_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir)
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .select(col("event_id").as("eid"), struct(
        col("event_type").as("etype"),
        (Cols.money(col("value")) * 100).cast("long").as("cents")).as("payload")))
    val files = table.snapshot().files.map(_.path)
    table.renameColumn("eid", "event_id")
    table.renameField("payload.etype", "event_type")
    table.renameField("payload.cents", "value_cents")
    require(table.snapshot().files.map(_.path) == files,
      "rename must be metadata-only")
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .select(col("event_id"), struct(
        col("event_type"),
        (Cols.money(col("value")) * 100).cast("long").as("value_cents"))
        .as("payload")))
    table.read()
      .groupBy(col("payload.event_type").as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("payload.value_cents")).cast("long").as("cents_sum"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  def lakeHidden(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{LogTable => LT, Transform}
    val tmp = graft.Scratch.dir("graft_lake_hidden_").toString
    val table = LT(s, tmp, hiddenBy = Seq(Transform.day("ts_us")))
    table.append(Tables.events(s, dir))
    val lo = 1704844800000000L            // 2024-01-10 00:00:00 UTC, µs
    val hi = 1705708800000000L - 1        // < 2024-01-20 00:00:00 UTC
    table.readRange("ts_us", lo, hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** DataFrame-writer → DSv2-scan roundtrip, entirely through
    * `format("graft")` ([[graft.sources.GraftTableProvider]]): two
    * writer-API ingests (the second via SaveMode.Append) into a
    * hive+hidden-partitioned layout declared ONLY through writer
    * options, then a filtered read back through the DSv2 batch scan —
    * whose predicate prunes files via manifest stats, partition
    * values, and the day() transform before Spark re-applies it
    * row-level. The oracle is the same WHERE over the source parquet:
    * a wrong skip (pruning arithmetic drift between writer and
    * scanner) or a lost/duplicated writer batch breaks the hash. */
  def lakeDsv2(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_dsv2_").toString
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .write.format("graft").partitionBy("event_type")
      .option("hiddenBy", "day(ts_us)").save(tmp)
    ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .write.format("graft").mode("append").save(tmp)
    val lo = 1704844800000000L            // 2024-01-10 00:00:00 UTC, µs
    val hi = 1705708800000000L            // 2024-01-20 00:00:00 UTC, µs
    s.read.format("graft").load(tmp)
      .where(col("event_type") =!= "error" &&
        col("ts_us") >= lo && col("ts_us") < hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** The catalog-plugin lifecycle ([[graft.sources.GraftCatalog]]) —
    * CREATE NAMESPACE, CREATE TABLE with partition transforms
    * (`days(ts_us)`, identity event_type), two INSERT INTO batches and
    * a filtered aggregate, every statement through SPARK'S OWN parser
    * against `spark.sql.catalog.*` config (the reference's users
    * address their table as catalog.namespace.table through a
    * registered catalog the same way, reference init-setup.py:84-130).
    * The SELECT prunes through both partition axes before Spark
    * re-applies the predicate; the oracle is the same WHERE over the
    * source parquet. */
  def lakeCatalog(s: SparkSession, dir: String): DataFrame = {
    // catalog instances are cached per session by name — initialize
    // once per JVM, make the statements idempotent per call
    CatalogFixture.ensure(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    s.sql("DROP TABLE IF EXISTS graft_cat.lake.events_cat")
    s.sql(
      """CREATE TABLE graft_cat.lake.events_cat (
        |  event_id BIGINT, user_id BIGINT, event_type STRING,
        |  value DOUBLE, ts_us BIGINT)
        |PARTITIONED BY (days(ts_us), event_type)""".stripMargin)
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us")).createOrReplaceTempView("events_cat_src")
    s.sql("""INSERT INTO graft_cat.lake.events_cat
            |SELECT * FROM events_cat_src WHERE event_id % 2 = 0""".stripMargin)
    s.sql("""INSERT INTO graft_cat.lake.events_cat
            |SELECT * FROM events_cat_src WHERE event_id % 2 = 1""".stripMargin)
    s.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
         |FROM graft_cat.lake.events_cat
         |WHERE event_type <> 'view'
         |  AND ts_us >= ${1704412800000000L}L AND ts_us < ${1705276800000000L}L
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Catalog SQL ROW-LEVEL DML — `UPDATE`, `MERGE INTO` (full clause
    * surface) and an arbitrary-predicate `DELETE`, each through
    * SPARK'S OWN row-level planner ([[graft.sources.GraftTable]]'s
    * `SupportsRowLevelOperations` → group-based ReplaceData with
    * runtime group filtering): the rewrite touches only the files
    * holding matching rows — at 100 TB, a keyed MERGE rewrites a
    * bounded file set, never the table. This is the SQL surface the
    * reference's Trino users run verbatim (reference
    * README.md:125-168). Oracle = the same DML folded into CTEs over
    * the source parquet. */
  def lakeCatalogDml(s: SparkSession, dir: String): DataFrame = {
    CatalogFixture.ensure(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    s.sql("DROP TABLE IF EXISTS graft_cat.lake.ev_dml")
    s.sql(
      """CREATE TABLE graft_cat.lake.ev_dml (
        |  event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)
        |""".stripMargin)
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("ev_dml_src")
    s.sql("""INSERT INTO graft_cat.lake.ev_dml
            |SELECT * FROM ev_dml_src WHERE event_id % 4 = 0""".stripMargin)
    s.sql("""INSERT INTO graft_cat.lake.ev_dml
            |SELECT * FROM ev_dml_src WHERE event_id % 4 = 2""".stripMargin)
    s.sql("""UPDATE graft_cat.lake.ev_dml
            |SET value = value + 10.0 WHERE event_type = 'click'""".stripMargin)
    s.sql(
      """MERGE INTO graft_cat.lake.ev_dml t
        |USING (SELECT * FROM ev_dml_src WHERE event_id % 5 = 1) m
        |ON t.event_id = m.event_id
        |WHEN MATCHED AND m.value < 50 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET value = m.value
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // not expressible in the v1 filter algebra → group-based rewrite
    s.sql("DELETE FROM graft_cat.lake.ev_dml WHERE event_id % 3 = 0")
    s.sql(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM graft_cat.lake.ev_dml
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  private object CatalogFixture {
    @volatile private var done = false
    def ensure(s: SparkSession): Unit = synchronized {
      if (!done) {
        s.conf.set("spark.sql.catalog.graft_cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft_cat.warehouse",
          graft.Scratch.dir("graft_cat_wh_").toString)
        done = true
      }
    }
  }

  /** MERGE-ON-READ delete roundtrip (Iceberg v2 position deletes —
    * [[graft.sources.LogTable.deleteMor]]): ingest events, mark the
    * 'error' rows and every 13th event as deleted in POSITION-DELETE
    * FILES (no data file rewritten — at 100 TB a small delete costs
    * O(matched rows), not O(touched file bytes)), and aggregate the
    * read-back, which anti-joins the marks away. The second delete
    * overlaps the first (13 | some error ids) — the delete-aware
    * marking scan must keep positions disjoint or rows double-delete
    * and the hash breaks. Oracle = the same predicates as a WHERE over
    * the source parquet. */
  def lakeMor(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_mor_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir)
    (0 until 2).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(2)) === i))
    }
    table.deleteMor(col("event_type") === "error")
    table.deleteMor(pmod(col("event_id"), lit(13)) === 0)
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Metadata-only aggregates ([[graft.sources.LogTable.countMeta]] /
    * minMaxMeta): `count(*)` and column min/max answered from MANIFEST
    * ARITHMETIC alone — zero data files opened, zero Spark jobs (the
    * reference catalog's first query, `SELECT COUNT(*) FROM api`,
    * reference README.md:128, should be O(manifest) at 100 TB). The
    * row carries the pre-delete count and exact id bounds, plus the
    * count AFTER a merge-on-read delete — whose arithmetic
    * (footer-exact file rows minus live delete marks) must match the
    * oracle's WHERE count bit-for-bit. */
  def lakeCountMeta(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_cnt_").toString
    val table = LogTable(s, tmp)
    table.append(Tables.events(s, dir))
    val nTotal = table.countMeta()
    val (idMin, idMax) = table.minMaxMeta("event_id").get
    table.deleteMor(col("event_type") === "error")
    val nLive = table.countMeta()
    import s.implicits._
    Seq((nTotal, nLive, idMin, idMax))
      .toDF("n_total", "n_live", "id_min", "id_max")
  }

  /** NDV statistics across the seam, oracle-gated end to end
    * ([[graft.sources.IcebergStatistics]]): events project to three
    * BOUNDED-cardinality columns (all under the theta sketch's 2^12
    * exact-mode bound, so estimates are EXACT distinct counts), land
    * in a table, export + exportStatistics write the Puffin file and
    * the metadata `statistics` entry, and the IMPORT direction adopts
    * the ndv blob properties into the imported manifest — the query
    * returns those adopted NDVs, which must hash-match DuckDB's true
    * COUNT(DISTINCT)s. A broken sketch pass, a mis-serialized Puffin,
    * a wrong blob property, or a lost adoption breaks the hash. */
  def lakeStats(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_stats_").toString
    val t = LogTable(s, tmp)
    t.append(Tables.events(s, dir).select(
      col("event_type").as("etype"),
      pmod(col("user_id"), lit(997L)).as("ubucket"),
      pmod(col("event_id"), lit(2511L)).as("ebucket")))
    val dest = graft.Scratch.dir("graft_lake_stats_ice_").toString
    IcebergExport.export(t, dest)
    IcebergStatistics.exportStatistics(t, dest)
    val imp = IcebergImport.importTable(s, dest,
      graft.Scratch.dir("graft_lake_stats_imp_").toString)
    import s.implicits._
    imp.snapshot().ndvs.toSeq.toDF("col_name", "ndv").orderBy(col("col_name"))
  }

  /** PARTITION-SPEC EVOLUTION roundtrip ([[graft.sources.LogTable
    * .evolveSpec]]): half the events land in an UNPARTITIONED table,
    * the spec evolves to (event_type, day(ts_us)) — a metadata-only
    * commit, no file rewritten — and the other half lands under the
    * evolved layout. The filtered aggregate then reads across the
    * MIXED layouts: old files are conservatively scanned (their
    * event_type lives in file data), new files prune by directory key
    * and materialize event_type from the manifest. A wrong union
    * shape, a lost column, or an unsound prune breaks the hash. */
  def lakeEvolve(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_evolve_").toString
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    val t0 = LogTable(s, tmp)
    t0.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))
    val t1 = t0.evolveSpec(partitionBy = Seq("event_type"),
      hiddenBy = Seq(graft.sources.Transform.day("ts_us")))
    t1.append(ev.filter(pmod(col("event_id"), lit(2)) === 1))
    val lo = 1704844800000000L            // 2024-01-10 00:00:00 UTC, µs
    val hi = 1705708800000000L            // 2024-01-20 00:00:00 UTC, µs
    t1.read()
      .where(col("event_type") =!= "error" &&
        col("ts_us") >= lo && col("ts_us") < hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** TYPE WIDENING under the hash gate: half the corpus lands with a
    * NARROW column (event_id as int, count as int), the column widens
    * to long (a metadata-only promotion — files keep their physical
    * type, the reader converts under the manifest schema, future
    * writers upcast), the second half lands wide, and the aggregate
    * over the MIXED files must hash-equal DuckDB computing from
    * uniformly-wide values. A reader that mis-converts a pre-widening
    * file, or a writer that failed to upcast, breaks the hash. The
    * sf0.01 corpus fits int exactly (event_id < 2^31, spec-checked by
    * the refusal inside the cast), which is what makes the narrow
    * ingest legal. */
  def lakeWiden(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_widen_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("event_type"), col("value"))
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .withColumn("event_id", col("event_id").cast("int")))
    table.widenColumn("event_id", org.apache.spark.sql.types.LongType)
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 1))
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).cast("long").as("id_sum"),
        max(col("event_id")).as("max_id"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** MERGE-ON-READ upsert roundtrip ([[graft.sources.LogTable
    * .mergeMor]]): the same merge shape as lake_merge — updated values
    * for every 10th event, re-keyed inserts for every 17th — but
    * executed as position marks + an appended batch instead of COW
    * file rewrites. The oracle is lake_merge's UNION-ALL clause
    * algebra: a double-applied mark, a resurrected matched row, or a
    * lost insert breaks the hash. */
  def lakeMor2(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_mor2_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    (0 until 2).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(2)) === i))
    }
    val updates = ev.filter(pmod(col("event_id"), lit(10)) === 0)
      .withColumn("value", col("value") + 1000.0)
      .unionByName(ev.filter(pmod(col("event_id"), lit(17)) === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    table.mergeMor(updates, "event_id")
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** EQUALITY-UPSERT roundtrip ([[graft.sources.LogTable.upsertEq]] —
    * Iceberg v2 equality deletes): the lake_merge shape again, but
    * executed as key tombstones + an appended batch — O(source), no
    * table scan, no file rewrite, the CDC ingest path. The read-back
    * anti-joins the tombstones under the data-sequence guard; the
    * oracle is the same UNION-ALL clause algebra, so an over-applied
    * tombstone (sequence guard broken) or a surviving stale row
    * breaks the hash. */
  def lakeUpsert(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft_lake_upsert_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts_us"))
    (0 until 2).foreach { i =>
      table.append(ev.filter(pmod(col("event_id"), lit(2)) === i))
    }
    val updates = ev.filter(pmod(col("event_id"), lit(10)) === 0)
      .withColumn("value", col("value") + 1000.0)
      .unionByName(ev.filter(pmod(col("event_id"), lit(17)) === 0)
        .withColumn("event_id", col("event_id") + 10000000L))
    table.upsertEq(updates, "event_id")
    table.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** STORAGE-PARTITIONED JOIN through the catalog: facts (events) and
    * dims (customers) both laid out `bucket(8, key)` of the join key,
    * then joined WITHOUT either exchange — the DSv2 scan reports
    * `KeyGroupedPartitioning`, the catalog's `FunctionCatalog`
    * resolves the bucket transform, and Spark aligns the two sides
    * bucket-by-bucket (broadcast disabled so the co-partitioned plan,
    * not a broadcast, is what runs; [[graft.sources.GraftSpjSpec]]
    * pins the zero-shuffle plan shape). At 100 TB a fact⋈fact join IS
    * its two shuffles; this is the layout-driven path that deletes
    * them. Oracle = the same join over the source parquet. */
  def lakeSpj(s: SparkSession, dir: String): DataFrame = {
    CatalogFixture.ensure(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lake")
    s.sql("DROP TABLE IF EXISTS graft_cat.lake.spj_facts")
    s.sql("DROP TABLE IF EXISTS graft_cat.lake.spj_dims")
    s.sql(
      """CREATE TABLE graft_cat.lake.spj_facts (
        |  event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)
        |PARTITIONED BY (bucket(8, user_id))""".stripMargin)
    s.sql(
      """CREATE TABLE graft_cat.lake.spj_dims (
        |  c_custkey BIGINT, c_acctbal DOUBLE)
        |PARTITIONED BY (bucket(8, c_custkey))""".stripMargin)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("spj_facts_src")
    Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
      .createOrReplaceTempView("spj_dims_src")
    s.sql("INSERT INTO graft_cat.lake.spj_facts SELECT * FROM spj_facts_src")
    s.sql("INSERT INTO graft_cat.lake.spj_dims SELECT * FROM spj_dims_src")
    // the MERGE hint pins sort-merge join per-query (a broadcast would
    // trivially have no shuffle and prove nothing); co-partitioning
    // then elides BOTH exchanges — no session conf touched
    s.sql(
      """SELECT /*+ MERGE(d) */ f.event_type, count(*) AS n,
        |  CAST(sum(CAST(f.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  CAST(sum(CAST(d.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM graft_cat.lake.spj_facts f
        |JOIN graft_cat.lake.spj_dims d ON f.user_id = d.c_custkey
        |GROUP BY f.event_type ORDER BY f.event_type""".stripMargin)
  }

  /** ICEBERG-INTEROP roundtrip — the reference's headline promise
    * ("queryable by any Iceberg-compatible engine", reference
    * README.md:26-30) as an oracle-checked lifecycle: ingest half the
    * events into an identity(event_type) + day(ts_us) layout, RENAME
    * value→amount metadata-only (old files keep the old physical
    * name), ingest the other half under the new name, then
    * [[graft.sources.IcebergExport]] writes REAL Iceberg v2 metadata
    * (metadata JSON + manifest-list/manifest Avro + name mapping)
    * against the existing parquet, and the INDEPENDENT spec-based
    * [[graft.sources.IcebergRead]] — which never touches graft's
    * manifest — reads it back for the aggregate. A wrong partition
    * value in the manifest entry, a broken name mapping, or any
    * lost/duplicated file in the projection breaks the hash against
    * DuckDB's direct aggregate over the source parquet. */
  def lakeIceberg(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergExport, IcebergImport, IcebergRead, Transform}
    val tmp = graft.Scratch.dir("graft_lake_ice_").toString
    val table = LogTable(s, tmp, partitionBy = Seq("event_type"),
      hiddenBy = Seq(Transform.day("ts_us")))
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("ts_us"))
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))
    table.renameColumn("value", "amount")
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .withColumnRenamed("value", "amount"))
    // MERGE-ON-READ state crosses the seam too: tombstone every error
    // event by key (O(keys), zero table I/O) — the export carries the
    // tombstones as content=2 delete entries and BOTH read legs must
    // apply them under the sequence guard
    table.deleteEq(ev.filter(col("event_type") === "error").select(col("event_id")))
    val dest = graft.Scratch.dir("graft_ice_out_").toString
    IcebergExport.export(table, dest)
    // BOTH legs of the interop circle, one aggregate each: the
    // independent spec-based reader over the exported metadata, and a
    // zero-copy IMPORT back into a fresh graft table read through
    // graft's own scan — either leg diverging breaks the hash
    def agg(df: DataFrame, via: String): DataFrame = df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Cols.asDouble(sum(Cols.money(col("amount")))).as("total_amount"))
      .withColumn("via", lit(via))
    val spec = agg(IcebergRead.read(s, dest), "spec_reader")
    val imported = IcebergImport.importTable(s, dest,
      graft.Scratch.dir("graft_ice_imp_").toString)
    agg(imported.read(), "graft_import").unionByName(spec)
      .select(col("via"), col("event_type"), col("n"), col("n_users"),
        col("total_amount"))
      .orderBy(col("via"), col("event_type"))
  }

  /** The FORMAT-V3 seam as an ORACLE query: ingest the events,
    * merge-on-read DELETE the error rows (position marks — the
    * predicate crosses file boundaries on the unpartitioned layout, so
    * the ladder must MARK, not drop), export with `formatVersion = 3`
    * — the marks become `deletion-vector-v1` Puffin blobs — and
    * aggregate BOTH v3 legs: the independent spec reader (executor-
    * decoded DVs applied through the (path, pos) anti-join) and a
    * graft-native IMPORT (DVs materialized back into the native delete
    * form). A mis-framed bitmap, wrong blob coordinates, a DV applied
    * to the wrong data file, or a lost/duplicated mark breaks the hash
    * against DuckDB's direct filtered aggregate. */
  def lakeV3(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergExport, IcebergImport, IcebergRead}
    val tmp = graft.Scratch.dir("graft_lake_v3_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("ts_us"))
    table.append(ev)
    table.deleteMor(col("event_type") === lit("error"))
    val dest = graft.Scratch.dir("graft_lake_v3_ice_").toString
    IcebergExport.export(table, dest, formatVersion = 3)
    def agg(df: DataFrame, via: String): DataFrame = df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .withColumn("via", lit(via))
    val spec = agg(IcebergRead.read(s, dest), "spec_reader")
    val imported = IcebergImport.importTable(s, dest,
      graft.Scratch.dir("graft_lake_v3_imp_").toString)
    agg(imported.read(), "graft_import").unionByName(spec)
      .select(col("via"), col("event_type"), col("n"), col("n_users"),
        col("total_value"))
      .orderBy(col("via"), col("event_type"))
  }

  /** FORMAT-V3 ROW LINEAGE as an ORACLE query: a two-append lineage
    * (even event keys, then odd) exports with `formatVersion = 3` and
    * reads back through the spec reader's `_row_id` /
    * `_last_updated_sequence_number` metadata columns, reduced to
    * SQL-checkable invariants — the id set is exactly {0..n-1}
    * (count, distinct count, arithmetic-series sum), every
    * first-append row KEEPS its id after the second append
    * (stale_ids = 0, the CDC-reconciliation property lineage exists
    * for), and the last-updated sequence replays as 1 for even keys
    * and 2 for odd keys. A drifted assignment, a re-assigned id, or a
    * lost/duplicated row id breaks the hash against DuckDB's direct
    * computation on the raw events. */
  def lakeV3Lineage(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergExport, IcebergRead}
    val tmp = graft.Scratch.dir("graft_lake_v3lin_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("ts_us"))
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))   // v1
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 1))   // v2
    val dest = graft.Scratch.dir("graft_lake_v3lin_ice_").toString
    IcebergExport.export(table, dest, history = true, formatVersion = 3)
    val v1 = IcebergRead.read(s, dest, versionAsOf = Some(1L),
        withLineage = true)
      .select(col("event_id"), col("_row_id").as("rid1"))
    val cur = IcebergRead.read(s, dest, withLineage = true)
      .select(col("event_id"), col("_row_id"),
        col("_last_updated_sequence_number"))
    cur.join(v1, Seq("event_id"), "left")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("_row_id")).as("n_ids"),
        sum(col("_row_id")).as("id_sum"),
        sum(when(col("rid1").isNotNull && col("rid1") =!= col("_row_id"),
          lit(1L)).otherwise(lit(0L))).as("stale_ids"),
        sum(col("_last_updated_sequence_number")).as("seq_sum"))
  }

  /** ROW LINEAGE THROUGH REWRITES as an ORACLE query (the v3 spec's
    * rewrite rule, [[graft.sources.LogTable]]'s rewriteRead seam): the
    * two-epoch lineage exports v3, IMPORTS (ids adopt), then runs the
    * two maintenance operations a migrated 100 TB table cannot live
    * without — COMPACT (all adopted files fold into one, every
    * surviving row's id MATERIALIZED into the rewritten file) and a
    * COW DELETE of the error rows (a second-generation rewrite that
    * must read the STORED ids back) — and re-exports. Invariants
    * reduced to SQL: every surviving row serves the IDENTICAL
    * `_row_id` the original export served (moved_ids = 0 — the
    * continuity compaction previously had to refuse to protect), ids
    * stay unique (n_ids = n_rows), and each row's materialized
    * `_last_updated_sequence_number` still replays its ORIGINAL
    * append epoch (1 for even keys, 2 for odd) — a rewrite is not an
    * update. A dropped id, a position-shifted id, or a re-assignment
    * anywhere in the import→compact→delete→export chain breaks the
    * hash against DuckDB's direct computation on the raw events. */
  def lakeV3Rewrite(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergExport, IcebergImport, IcebergRead}
    val tmp = graft.Scratch.dir("graft_lake_v3rw_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("ts_us"))
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))   // seq 1
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 1))   // seq 2
    val dest = graft.Scratch.dir("graft_lake_v3rw_ice_").toString
    IcebergExport.export(table, dest, formatVersion = 3)
    val before = IcebergRead.read(s, dest, withLineage = true)
      .select(col("event_id"), col("_row_id").as("rid0"))
    val imp = IcebergImport.importTable(s, dest,
      graft.Scratch.dir("graft_lake_v3rw_imp_").toString)
    imp.compact(smallBytes = Long.MaxValue)
    imp.delete(col("event_type") === lit("error"))
    val dest2 = graft.Scratch.dir("graft_lake_v3rw_ice2_").toString
    IcebergExport.export(imp, dest2, formatVersion = 3)
    IcebergRead.read(s, dest2, withLineage = true)
      .select(col("event_id"), col("_row_id"),
        col("_last_updated_sequence_number"))
      .join(before, Seq("event_id"), "left")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("_row_id")).as("n_ids"),
        sum(when(col("rid0").isNull || col("rid0") =!= col("_row_id"),
          lit(1L)).otherwise(lit(0L))).as("moved_ids"),
        sum(col("_last_updated_sequence_number")).as("seq_sum"))
  }

  /** The REST-catalog seam as an ORACLE query (reference
    * init-setup.py:73-86 — its Trino discovers the table via
    * `iceberg.catalog.type = rest`): export → serve → a foreign
    * reader's FULL HTTP walk (namespaces → table list →
    * LoadTableResult) → rows scanned from the wire-carried metadata.
    * A broken route, a stale LoadTableResult, or a reader that still
    * needs the version-hint file breaks the hash. */
  def lakeRest(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergExport, IcebergRead, IcebergRestCatalog, Transform}
    val tmp = graft.Scratch.dir("graft_lake_rest_").toString
    val table = LogTable(s, tmp, hiddenBy = Seq(Transform.day("ts_us")))
    table.append(Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("ts_us")))
    val dest = graft.Scratch.dir("graft_lake_rest_ice_").toString
    IcebergExport.export(table, dest)
    val cat = IcebergRestCatalog.start()
    try {
      cat.register("logs", "events", dest)
      // discovery strictly over HTTP, never assuming the names
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val http = graft.sources.Http.client
      def get(url: String): com.fasterxml.jackson.databind.JsonNode = {
        val r = http.send(graft.sources.Http.request(url).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() == 200, s"$url -> ${r.statusCode()}")
        om.readTree(r.body())
      }
      val ns = get(s"${cat.uri}/v1/namespaces")
        .get("namespaces").get(0).get(0).asText()
      val tbl = get(s"${cat.uri}/v1/namespaces/$ns/tables")
        .get("identifiers").get(0).get("name").asText()
      IcebergRead.readRest(s, cat.uri, ns, tbl)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
        .orderBy(col("event_type"))
    } finally cat.close() // metadata is already on the wire; data
                          // access is direct file I/O (spec shape)
  }

  /** LIVE REST serving as an ORACLE query
    * ([[graft.sources.IcebergRestCatalog.registerLive]]): a graft
    * table registers LIVE — NO explicit export call anywhere in the
    * serving loop — the first HTTP load projects and serves the
    * current snapshot, a second graft append lands, and the NEXT
    * load reflects it (the route re-projects on demand when the
    * graft version advanced). Both generations' aggregates union
    * under a `via` tag and hash against DuckDB computing each half
    * directly — a stale LoadTableResult, a missed refresh, or a
    * projection that lost rows breaks the gate. */
  def lakeRestLive(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergRead, IcebergRestCatalog}
    val tmp = graft.Scratch.dir("graft_lake_restlive_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("ts_us"))
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))
    val dest = graft.Scratch.dir("graft_lake_restlive_ice_").toString
    val cat = IcebergRestCatalog.start()
    try {
      cat.registerLive("logs", "events", table, dest)
      def agg(df: DataFrame, via: String): DataFrame = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
        .withColumn("via", lit(via))
      val gen1 = agg(IcebergRead.readRest(s, cat.uri, "logs", "events"),
        "gen1")
      // the second append commits to GRAFT only — the next HTTP load
      // must surface it without any export call here
      table.append(ev.filter(pmod(col("event_id"), lit(2)) === 1))
      val gen2 = agg(IcebergRead.readRest(s, cat.uri, "logs", "events"),
        "gen2")
      gen1.unionByName(gen2)
        .select(col("via"), col("event_type"), col("n"), col("total_value"))
        .orderBy(col("via"), col("event_type"))
    } finally cat.close() // metadata is already on the wire; data
                          // access is direct file I/O (spec shape)
  }

  /** REST VIEWS end to end, oracle-gated: a view is CREATED over the
    * wire (the service authors Iceberg view-spec metadata at an
    * explicit location), REPLACED once through the commit model
    * (assert-view-uuid + add-view-version + the -1 sentinel), and
    * executed via the dialect-gated consumer — the result must equal
    * DuckDB running the view's FINAL SQL semantics directly on the
    * corpus. The lifecycle covers what a foreign SQL engine does when
    * it publishes and evolves a view against the catalog. */
  def lakeView(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergRead, IcebergRestCatalog}
    Tables.events(s, dir).createOrReplaceTempView("graft_lake_view_base")
    val cat = IcebergRestCatalog.start()
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val http = graft.sources.Http.client
      def post(url: String, body: String): com.fasterxml.jackson.databind.JsonNode = {
        val r = http.send(graft.sources.Http.request(url)
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() == 200 || r.statusCode() == 204,
          s"$url -> ${r.statusCode()}: ${r.body()}")
        if (r.body().isEmpty) om.createObjectNode() else om.readTree(r.body())
      }
      post(s"${cat.uri}/v1/namespaces", """{"namespace":["analytics"]}""")
      val loc = graft.Scratch.dir("graft_lake_view_loc_").toString
      val v1sql = "SELECT event_type, count(*) AS n, " +
        "count(DISTINCT user_id) AS n_users " +
        "FROM graft_lake_view_base GROUP BY event_type ORDER BY event_type"
      val created = post(s"${cat.uri}/v1/namespaces/analytics/views",
        s"""{"name":"event_census","location":"$loc",
           |"schema":{"type":"struct","fields":[
           |  {"id":1,"name":"event_type","required":false,"type":"string"},
           |  {"id":2,"name":"n","required":false,"type":"long"},
           |  {"id":3,"name":"n_users","required":false,"type":"long"}]},
           |"view-version":{"version-id":1,"schema-id":0,
           |  "summary":{"operation":"create"},
           |  "representations":[{"type":"sql","dialect":"spark",
           |    "sql":"${v1sql.replace("\"", "\\\"")}"}],
           |  "default-namespace":["analytics"]}}""".stripMargin)
      val uuid = created.get("metadata").get("view-uuid").asText()
      // evolve the view over the wire: v2 keeps only event types seen
      // at least twice (the commit model's -1 sentinel resolves the
      // version this same commit added)
      val v2sql = "SELECT event_type, count(*) AS n, " +
        "count(DISTINCT user_id) AS n_users " +
        "FROM graft_lake_view_base GROUP BY event_type " +
        "HAVING count(*) >= 2 ORDER BY event_type"
      post(s"${cat.uri}/v1/namespaces/analytics/views/event_census",
        s"""{"requirements":[{"type":"assert-view-uuid","uuid":"$uuid"}],
           |"updates":[
           |  {"action":"add-view-version","view-version":{
           |    "version-id":0,"schema-id":0,
           |    "summary":{"operation":"replace"},
           |    "representations":[{"type":"sql","dialect":"spark",
           |      "sql":"${v2sql.replace("\"", "\\\"")}"}],
           |    "default-namespace":["analytics"]}},
           |  {"action":"set-current-view-version","view-version-id":-1}]}"""
          .stripMargin)
      IcebergRead.readRestView(s, cat.uri, "analytics", "event_census")
    } finally cat.close() // the SQL text is already resolved into the
                          // session plan; relations are session-local
  }

  /** VARIANT end to end, oracle-gated: a graft table stores a variant
    * column built from the corpus (parse_json of a struct projection),
    * a COW delete predicates THROUGH the variant (`variant_get` in the
    * condition — the rewrite engine must evaluate semi-structured
    * paths), the table exports as format-v3 and the spec reader
    * aggregates via variant_get — all of which must hash-equal DuckDB
    * computing the same census from the raw columns the variant was
    * built from. A drifted JSON encode/decode, a mis-rewritten COW
    * file, or a broken v3 variant round-trip each breaks the hash. */
  def lakeVariant(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergExport, IcebergRead}
    val tmp = graft.Scratch.dir("graft_lake_var_").toString
    val table = LogTable(s, tmp)
    table.append(Tables.spread(Tables(s, dir, "documents"))
      .select(col("doc_id"),
        expr("parse_json(to_json(struct(lang, source, n_chars)))").as("v")))
    table.delete(expr("variant_get(v, '$.lang', 'string') = 'de'"))
    val dest = graft.Scratch.dir("graft_lake_var_ice_").toString
    IcebergExport.export(table, dest, formatVersion = 3)
    IcebergRead.read(s, dest)
      .select(expr("variant_get(v, '$.lang', 'string')").as("lang"),
        expr("variant_get(v, '$.n_chars', 'long')").as("chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).cast("long").as("total_chars"))
      .orderBy(col("lang"))
  }

  /** VARIANT SHREDDING end to end, oracle-gated: the same census as
    * lake_variant, but the table WRITES its variant physically
    * SHREDDED (`write.variant.shredding` — the parquet
    * variant-shredding layout, per-field typed_value subcolumns;
    * Iceberg v3's blessed physical form): ingest lands shredded, the
    * COW delete predicates THROUGH variant_get over shredded files
    * and its rewrite re-shreds, compact rewrites shredded, the v3
    * export serves shredded files to the independent spec reader.
    * Footer physicality is spec-asserted (IcebergExportSpec); this
    * query gates the VALUES — a shredding writer that loses residual
    * fields, or a reader that mis-rebuilds typed_value, breaks the
    * hash. */
  def lakeVariantShred(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergExport, IcebergRead}
    val tmp = graft.Scratch.dir("graft_lake_vshred_").toString
    val table = LogTable(s, tmp)
    table.setProperties(Map(LogTable.VariantShredProp -> "true"))
    table.append(Tables.spread(Tables(s, dir, "documents"))
      .select(col("doc_id"),
        expr("parse_json(to_json(struct(lang, source, n_chars)))").as("v")))
    table.delete(expr("variant_get(v, '$.lang', 'string') = 'de'"))
    table.compact()
    val dest = graft.Scratch.dir("graft_lake_vshred_ice_").toString
    IcebergExport.export(table, dest, formatVersion = 3)
    IcebergRead.read(s, dest)
      .select(expr("variant_get(v, '$.lang', 'string')").as("lang"),
        expr("variant_get(v, '$.n_chars', 'long')").as("chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).cast("long").as("total_chars"))
      .orderBy(col("lang"))
  }

  /** Partition statistics end to end, oracle-gated: a day-partitioned
    * table exports with the spec's partition-statistics file, the
    * stats parquet reads back through the spec reader, and the
    * per-partition record counts must equal DuckDB grouping the raw
    * corpus by the same day arithmetic — a drifted rollup (or a
    * partition value decoded under the wrong transform encoding)
    * breaks the hash. File counts and byte totals are physical-layout
    * facts the oracle cannot see; they're spec-tested instead. */
  def lakePstats(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergExport, IcebergRead, Transform}
    val tmp = graft.Scratch.dir("graft_lake_ps_").toString
    val table = LogTable(s, tmp, hiddenBy = Seq(Transform.day("ts_us")))
    table.append(Tables.events(s, dir))
    val dest = graft.Scratch.dir("graft_lake_ps_ice_").toString
    IcebergExport.export(table, dest, partitionStats = true)
    // the µs-long day layout exports as truncate[86400000000]: the
    // stored stats value is dayIndex·86400000000 — divide back to the
    // day ordinal the oracle can recompute from the raw timestamps
    IcebergRead.partitionStats(s, dest)
      .select(expr("partition.ts_us_day div 86400000000").as("day_ord"),
        col("data_record_count").as("n_rows"))
      .orderBy(col("day_ord"))
  }

  /** The Iceberg-spec murmur3 bucket layout end to end, oracle-gated:
    * an mbucket(16, user_id) table answers point lookups through the
    * bucket prune on BOTH sides of the seam — graft's own scan and
    * the independent spec reader over the export (which prunes
    * nothing but must agree row-for-row). A drifted hash on either
    * side drops rows from a lookup and breaks the hash. */
  def lakeMbucket(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergExport, IcebergRead, Transform}
    val tmp = graft.Scratch.dir("graft_lake_mb_").toString
    val table = LogTable(s, tmp, hiddenBy = Seq(Transform.mbucket(16, "user_id")))
    table.append(Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("ts_us")))
    val keys = Seq(1L, 7L, 42L)
    val dest = graft.Scratch.dir("graft_lake_mb_ice_").toString
    IcebergExport.export(table, dest)
    def agg(df: DataFrame, via: String): DataFrame = df
      .filter(col("user_id").isin(keys: _*))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .withColumn("via", lit(via))
    // graft leg reads through the DSv2 scan: the IN predicate reaches
    // the manifest pruner and opens only the keys' bucket partitions
    // (table.read() would scan the full file list)
    agg(s.read.format("graft").load(tmp), "graft")
      .unionByName(agg(IcebergRead.read(s, dest), "spec"))
      .select(col("via"), col("user_id"), col("n"), col("total_value"))
      .orderBy(col("via"), col("user_id"))
  }

  /** Dirty-history time travel across the Iceberg seam, oracle-gated:
    * a lineage with MID-HISTORY merge-on-read debt (v2 marks error
    * rows, v3 appends more data with the marks still outstanding)
    * history-exports per snapshot, and the independent spec reader's
    * v2 and v3 views both equal DuckDB's direct reconstruction —
    * a delete manifest missing from either snapshot, or marks leaking
    * onto the post-delete append, breaks the hash. */
  def lakeHistMor(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IcebergExport, IcebergRead}
    val tmp = graft.Scratch.dir("graft_lake_hm_").toString
    val table = LogTable(s, tmp)
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("ts_us"))
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))   // v1
    table.deleteMor(col("event_type") === "error")                  // v2 marks
    table.append(ev.filter(pmod(col("event_id"), lit(2)) === 1))   // v3
    val dest = graft.Scratch.dir("graft_lake_hm_ice_").toString
    IcebergExport.export(table, dest, history = true)
    def agg(v: Long): DataFrame = IcebergRead.read(s, dest, versionAsOf = Some(v))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .withColumn("via", lit(s"v$v"))
    agg(2L).unionByName(agg(3L))
      .select(col("via"), col("event_type"), col("n"), col("total_value"))
      .orderBy(col("via"), col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_rest" -> (lakeRest _),
    "lake_rest_live" -> (lakeRestLive _),
    "lake_view" -> (lakeView _),
    "lake_pstats" -> (lakePstats _),
    "lake_variant" -> (lakeVariant _),
    "lake_variant_shred" -> (lakeVariantShred _),
    "lake_mbucket" -> (lakeMbucket _),
    "lake_hist_mor" -> (lakeHistMor _),
    "lake_iceberg" -> (lakeIceberg _),
    "lake_v3" -> (lakeV3 _),
    "lake_v3_lineage" -> (lakeV3Lineage _),
    "lake_v3_rewrite" -> (lakeV3Rewrite _),
    "lake_spj" -> (lakeSpj _),
    "lake_evolve" -> (lakeEvolve _),
    "lake_mor2" -> (lakeMor2 _),
    "lake_upsert" -> (lakeUpsert _),
    "lake_mor" -> (lakeMor _),
    "lake_count_meta" -> (lakeCountMeta _),
    "lake_stats" -> (lakeStats _),
    "lake_merge4" -> (lakeMerge4 _),
    "lake_hidden" -> (lakeHidden _),
    "lake_dsv2" -> (lakeDsv2 _),
    "lake_catalog" -> (lakeCatalog _),
    "lake_catalog_dml" -> (lakeCatalogDml _),
    "lake_sql" -> (lakeSql _),
    "lake_sql_tt" -> (lakeSqlTt _),
    "lake_skipped" -> (lakeSkipped _),
    "lake_incremental" -> (lakeIncremental _),
    "lake_mv" -> (lakeMv _),
    "lake_cdc" -> (lakeCdc _),
    "lake_txn" -> (lakeTxn _),
    "lake_retention" -> (lakeRetention _),
    "lake_nested" -> (lakeNested _),
    "lake_rename" -> (lakeRename _),
    "lake_mv_ivm" -> (lakeMvIvm _),
    "lake_clone" -> (lakeClone _),
    "lake_roundtrip" -> (lakeRoundtrip _),
    "lake_delete" -> (lakeDelete _),
    "lake_pruned" -> (lakePruned _),
    "lake_merge" -> (lakeMerge _),
    "lake_merge2" -> (lakeMerge2 _),
    "lake_merge3" -> (lakeMerge3 _),
    "lake_point" -> (lakePoint _),
    "lake_bloom" -> (lakeBloom _),
    "lake_wap" -> (lakeWap _),
    "lake_widen" -> (lakeWiden _),
    "lake_rollback" -> (lakeRollback _),
    "lake_update" -> (lakeUpdate _),
  )

  val oracles: Map[String, String] = Map(
    "lake_rest" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // gen1 = the even-key first append; gen2 = the whole table after
    // the second append — each generation as its own HTTP load saw it
    "lake_rest_live" ->
      """SELECT via, event_type, n, total_value FROM (
        |  SELECT 'gen1' AS via, event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |  FROM events WHERE event_id % 2 = 0 GROUP BY event_type
        |  UNION ALL
        |  SELECT 'gen2' AS via, event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY event_type)
        |ORDER BY via, event_type""".stripMargin,
    // the variant census recomputed from the raw columns the variant
    // was built from; the COW delete replays as the WHERE. NULL
    // contract pinned on BOTH sides: Spark's `variant_get(...) = 'de'`
    // is null-safe-false (NULL-lang rows SURVIVE the delete), so the
    // oracle keeps the NULL group via IS DISTINCT FROM rather than the
    // NULL-dropping `<>` — a NULL-lang corpus row lands in both
    // results instead of silently diverging the hash.
    "lake_variant" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang IS DISTINCT FROM 'de'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // identical census through the SHREDDED write path — the physical
    // layout must be invisible to the values
    "lake_variant_shred" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang IS DISTINCT FROM 'de'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // per-day record counts recomputed from the raw timestamps (the
    // same floor-to-day arithmetic the truncate[86400000000] layout
    // stores)
    "lake_pstats" ->
      """SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_ord,
        |  count(*) AS n_rows
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the view's FINAL (replaced) SQL semantics, straight on the corpus
    "lake_view" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type HAVING count(*) >= 2
        |ORDER BY event_type""".stripMargin,
    "lake_mbucket" ->
      """SELECT via, user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |CROSS JOIN (SELECT unnest(['graft', 'spec']) AS via)
        |WHERE user_id IN (1, 7, 42)
        |GROUP BY via, user_id ORDER BY via, user_id""".stripMargin,
    "lake_hist_mor" ->
      """SELECT 'v2' AS via, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 2 = 0 AND event_type <> 'error'
        |GROUP BY event_type
        |UNION ALL
        |SELECT 'v3', event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
        |FROM events WHERE NOT (event_id % 2 = 0 AND event_type = 'error')
        |GROUP BY event_type
        |ORDER BY via, event_type""".stripMargin,
    "lake_spj" ->
      """SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "lake_evolve" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE event_type <> 'error'
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_upsert" ->
      """WITH merged AS (
        |  SELECT event_type, value FROM events WHERE event_id % 10 <> 0
        |  UNION ALL
        |  SELECT event_type, value + 1000.0 FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT event_type, value FROM events WHERE event_id % 17 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_mor2" ->
      """WITH merged AS (
        |  SELECT event_type, value FROM events WHERE event_id % 10 <> 0
        |  UNION ALL
        |  SELECT event_type, value + 1000.0 FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT event_type, value FROM events WHERE event_id % 17 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_mor" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type <> 'error' AND event_id % 13 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_stats" ->
      """SELECT * FROM (
        |  SELECT 'ebucket' AS col_name, count(DISTINCT event_id % 2511) AS ndv FROM events
        |  UNION ALL SELECT 'etype', count(DISTINCT event_type) FROM events
        |  UNION ALL SELECT 'ubucket', count(DISTINCT user_id % 997) FROM events
        |) ORDER BY col_name""".stripMargin,
    "lake_count_meta" ->
      """SELECT count(*) AS n_total,
        |  (SELECT count(*) FROM events WHERE event_type <> 'error') AS n_live,
        |  min(event_id) AS id_min, max(event_id) AS id_max
        |FROM events""".stripMargin,
    "lake_merge4" ->
      """WITH merged AS (
        |  SELECT event_type, value, CAST(NULL AS BIGINT) AS priority
        |  FROM events WHERE event_id % 5 <> 0
        |  UNION ALL
        |  SELECT event_type, value + 1000.0, event_id % 3
        |  FROM events WHERE event_id % 5 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  CAST(sum(priority) AS BIGINT) AS total_priority,
        |  count(priority) AS n_priority
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_hidden" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_dsv2" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE event_type <> 'error'
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_catalog" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE event_type <> 'view'
        |  AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_catalog_dml" ->
      """WITH src AS (SELECT event_id, user_id, event_type, value FROM events),
        |base AS (SELECT * FROM src WHERE event_id % 2 = 0),
        |upd AS (SELECT event_id, user_id, event_type,
        |  CASE WHEN event_type = 'click' THEN value + 10.0 ELSE value END AS value
        |  FROM base),
        |m AS (SELECT * FROM src WHERE event_id % 5 = 1),
        |afterm AS (
        |  SELECT u.event_id, u.user_id, u.event_type,
        |    CASE WHEN m.event_id IS NOT NULL THEN m.value ELSE u.value END AS value
        |  FROM upd u LEFT JOIN m ON u.event_id = m.event_id
        |  WHERE m.event_id IS NULL OR m.value >= 50 OR m.value IS NULL
        |  UNION ALL
        |  SELECT m.event_id, m.user_id, m.event_type, m.value
        |  FROM m LEFT JOIN upd u ON m.event_id = u.event_id
        |  WHERE u.event_id IS NULL),
        |fin AS (SELECT * FROM afterm WHERE event_id % 3 <> 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_sql" ->
      """WITH upd AS (
        |  SELECT event_id,
        |    CASE WHEN event_type = 'error' THEN 'error_handled' ELSE event_type END AS event_type,
        |    CASE WHEN event_type = 'error' THEN value + 1000.0 ELSE value END AS value
        |  FROM events),
        |del AS (SELECT * FROM upd WHERE event_type <> 'view'),
        |merged AS (
        |  SELECT event_type, value FROM del WHERE event_id % 7 <> 0
        |  UNION ALL
        |  SELECT event_type, value FROM del
        |  WHERE event_id % 7 = 0 AND event_type <> 'click'
        |  UNION ALL
        |  SELECT event_type, value + 500.0 FROM events
        |  WHERE event_id % 7 = 0 AND event_type = 'click'
        |  UNION ALL
        |  SELECT event_type, value + 500.0 FROM events
        |  WHERE event_id % 7 = 0 AND event_type = 'view')
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_sql_tt" ->
      """SELECT event_type, count(*) AS n_deleted,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_deleted
        |FROM events WHERE event_type <> 'click'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_skipped" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_incremental" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 3 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_mv" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  CAST(CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
        |       AS DOUBLE) / count(*) AS DOUBLE) AS avg_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // each commit's exact row-level delta, recomputed as set algebra
    // over the source: 3 appends = every row inserted; COW delete =
    // errors deleted; MoR marks = small values among survivors;
    // update = surviving clicks deleted at the old value and
    // re-inserted at the new one
    "lake_cdc" ->
      """WITH c AS (
        |  SELECT event_type, 'insert' AS _change_type FROM events
        |  UNION ALL SELECT event_type, 'delete' FROM events
        |    WHERE event_type = 'error'
        |  UNION ALL SELECT event_type, 'delete' FROM events
        |    WHERE event_type <> 'error' AND value < 10
        |  UNION ALL SELECT event_type, 'delete' FROM events
        |    WHERE event_type = 'click' AND value >= 10
        |  UNION ALL SELECT event_type, 'insert' FROM events
        |    WHERE event_type = 'click' AND value >= 10)
        |SELECT event_type, _change_type, count(*) AS n
        |FROM c GROUP BY event_type, _change_type
        |ORDER BY event_type, _change_type""".stripMargin,
    "lake_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // rename is metadata-only, both halves cover all events, and the
    // eq tombstones remove exactly the error events — so BOTH interop
    // legs (spec reader + import read-back) must equal the filtered
    // aggregate, one copy per leg
    "lake_iceberg" ->
      """SELECT via, event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_amount
        |FROM events
        |CROSS JOIN (SELECT unnest(['graft_import', 'spec_reader']) AS via)
        |WHERE event_type <> 'error'
        |GROUP BY via, event_type ORDER BY via, event_type""".stripMargin,
    // the v3 circle: both legs must equal the error-filtered aggregate
    // (the DVs' whole job is making those rows vanish on read)
    "lake_v3" ->
      """SELECT via, event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |CROSS JOIN (SELECT unnest(['graft_import', 'spec_reader']) AS via)
        |WHERE event_type <> 'error'
        |GROUP BY via, event_type ORDER BY via, event_type""".stripMargin,
    "lake_v3_lineage" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_ids,
        |  CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS id_sum,
        |  CAST(0 AS BIGINT) AS stale_ids,
        |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END) AS BIGINT)
        |    AS seq_sum
        |FROM events""".stripMargin,
    "lake_v3_rewrite" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_ids,
        |  CAST(0 AS BIGINT) AS moved_ids,
        |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END) AS BIGINT)
        |    AS seq_sum
        |FROM events WHERE event_type <> 'error'""".stripMargin,
    "lake_txn" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_retention" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_nested" ->
      """WITH u AS (
        |  SELECT event_type, user_id % 1000 AS uid, CAST(NULL AS DOUBLE) AS score
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, user_id % 1000 AS uid, value AS score
        |  FROM events WHERE event_id % 2 = 1)
        |SELECT event_type, count(*) AS n, CAST(sum(uid) AS BIGINT) AS uid_sum,
        |  CAST(sum(CAST(coalesce(score, 0) AS DECIMAL(12,2))) AS DOUBLE) AS score_sum
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_clone" ->
      """WITH a AS (
        |  SELECT 'source' AS side, event_type, value FROM events
        |  UNION ALL
        |  SELECT 'clone', event_type, value FROM events
        |  WHERE event_id % 2 = 0 AND event_type <> 'error')
        |SELECT side, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM a GROUP BY side, event_type
        |ORDER BY side, event_type""".stripMargin,
    "lake_mv_ivm" ->
      """WITH u AS (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'click' THEN CAST(12.50 AS DECIMAL(12,2))
        |         ELSE CAST(value AS DECIMAL(12,2)) END AS money
        |  FROM events WHERE event_type <> 'error')
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(money) AS DOUBLE) AS total_value,
        |  CAST(CAST(sum(CAST(money * 100 AS BIGINT)) AS DOUBLE) / count(*)
        |    AS DOUBLE) AS avg_cents
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_rename" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
        |    AS cents_sum,
        |  max(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_delete" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_pruned" ->
      """SELECT count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type = 'click'""".stripMargin,
    "lake_merge2" ->
      """WITH merged AS (
        |  SELECT event_type, value FROM events WHERE event_id % 5 <> 0
        |  UNION ALL
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 5 = 0 AND event_type NOT IN ('click', 'error')
        |  UNION ALL
        |  SELECT event_type, value + 1000.0 FROM events
        |  WHERE event_id % 5 = 0 AND event_type = 'click'
        |  UNION ALL
        |  SELECT event_type, value FROM events WHERE event_id % 17 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_update" ->
      """WITH upd AS (
        |  SELECT CASE WHEN event_type = 'error' THEN 'error_handled'
        |              ELSE event_type END AS event_type,
        |         CASE WHEN event_type = 'error' THEN value + 1000.0
        |              ELSE value END AS value
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM upd GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_point" ->
      """SELECT count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type = 'purchase'""".stripMargin,
    // the widened census replayed from uniformly-wide values
    "lake_widen" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  max(event_id) AS max_id,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the WAP lifecycle replayed: the published table = the corpus
    // minus every vetoed row (the branch COW delete sees the whole
    // branch view — staged and pre-existing alike)
    "lake_wap" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // rollback replayed: batches 1 and 3 only
    "lake_rollback" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  min(event_id) AS first_event
        |FROM events WHERE event_id % 3 <> 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the bloom-probed point lookups, replayed as a plain WHERE — a
    // filter false-negative (a skipped row group that held a key)
    // would shrink a group and break the hash
    "lake_bloom" ->
      """SELECT user_id, count(*) AS n,
        |  count(DISTINCT event_type) AS n_types,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  min(event_id) AS first_event
        |FROM events WHERE user_id IN (3, 11, 59, 101)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "lake_merge3" ->
      """WITH merged AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 5 <> 0 AND event_type <> 'view'
        |  UNION ALL
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 5 = 0 AND event_type NOT IN ('click', 'error')
        |  UNION ALL
        |  SELECT event_type, value + 1000.0 FROM events
        |  WHERE event_id % 5 = 0 AND event_type = 'click'
        |  UNION ALL
        |  SELECT event_type, value FROM events WHERE event_id % 17 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
    "lake_merge" ->
      """WITH merged AS (
        |  SELECT event_type, value FROM events WHERE event_id % 10 <> 0
        |  UNION ALL
        |  SELECT event_type, value + 1000.0 FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT event_type, value FROM events WHERE event_id % 17 = 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
