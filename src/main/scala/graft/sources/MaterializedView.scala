package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A mergeable aggregate column of a [[MaterializedView]]: the view
  * stores PARTIAL aggregate state per group, and an incremental
  * refresh combines stored state with the delta's partials instead of
  * re-scanning the base table. Only aggregates with an associative,
  * commutative merge qualify (the classic self-maintainable set for
  * append-only bases): COUNT and SUM merge by addition, MIN/MAX by
  * least/greatest, AVG as a fused sum+count pair divided at read
  * time, APPROX_DISTINCT as HLL sketch state unioned at merge time —
  * the stored form is always the mergeable one, never the result.
  */
sealed trait MvAgg {
  /** Result column name in the view. */
  def name: String
  /** Partial aggregate over a delta (or full) scan of the base. */
  private[sources] def partial: Column
  /** Merge of stored state with an incoming partial. NULL means "no
    * values seen" on either side and must act as the identity, so a
    * delta whose group saw only SQL NULLs cannot wipe stored state. */
  private[sources] def merge(stored: Column, incoming: Column): Column
  /** Reader-facing projection of the stored state: identity for the
    * scalar aggregates; derived-state aggregates (Avg's ratio, a
    * sketch's estimate) override. Storage keeps the MERGEABLE form,
    * readers see the result form. */
  private[sources] def present(c: Column): Column = c
  /** Can this aggregate RETRACT — fold a deleted row as a negative
    * contribution? Count/Sum/Avg can (their merge is group addition);
    * Min/Max and sketches cannot un-see a row (a retreating min needs
    * the group re-scanned). Drives [[MaterializedView.refreshCdc]]. */
  private[sources] def retractable: Boolean = false
  /** Partial over a CDC delta carrying the ±1 [[MaterializedView
    * .SignCol]] column: the net contribution of inserts minus
    * deletes, in the same mergeable shape as [[partial]]. Only
    * defined when [[retractable]]. */
  private[sources] def signedPartial: Column =
    throw new UnsupportedOperationException(s"'$name' cannot retract")
  /** Is this signed-partial value the NEUTRAL element (no net
    * contribution)? A delta row neutral in EVERY aggregate is a no-op
    * for matched groups and must not insert a new one — the
    * born-and-fully-died-within-the-window group would otherwise
    * linger as an all-zero state row. Only defined when retractable. */
  private[sources] def neutral(c: Column): Column =
    throw new UnsupportedOperationException(s"'$name' cannot retract")
}

object MvAgg {
  /** `count(*)` per group. */
  final case class Count(name: String) extends MvAgg {
    private[sources] def partial: Column = count(lit(1)).cast("long").as(name)
    private[sources] def merge(s: Column, i: Column): Column =
      coalesce(s + i, s, i)
    private[sources] override def retractable: Boolean = true
    private[sources] override def signedPartial: Column =
      coalesce(sum(col(MaterializedView.SignCol)), lit(0L)).cast("long").as(name)
    private[sources] override def neutral(c: Column): Column = c === lit(0L)
  }
  /** `sum(expr)` per group (expr in base-table columns). */
  final case class Sum(name: String, expr: Column) extends MvAgg {
    private[sources] def partial: Column = sum(expr).as(name)
    private[sources] def merge(s: Column, i: Column): Column =
      coalesce(s + i, s, i)
    private[sources] override def retractable: Boolean = true
    private[sources] override def signedPartial: Column =
      sum(col(MaterializedView.SignCol) * expr).as(name)
    private[sources] override def neutral(c: Column): Column =
      c.isNull || c === lit(0)
  }
  /** `min(expr)` per group — monotone under appends only (a base
    * DELETE can raise the true min; use [[MaterializedView.fullRefresh]]
    * after row-changing base operations, as with every aggregate here). */
  final case class Min(name: String, expr: Column) extends MvAgg {
    private[sources] def partial: Column = min(expr).as(name)
    private[sources] def merge(s: Column, i: Column): Column = least(s, i)
  }
  /** `max(expr)` per group. */
  final case class Max(name: String, expr: Column) extends MvAgg {
    private[sources] def partial: Column = max(expr).as(name)
    private[sources] def merge(s: Column, i: Column): Column = greatest(s, i)
  }
  /** `avg(expr)` per group — the latency-dashboard aggregate. The
    * ratio itself would not merge, so the state is the FUSED
    * sum+count pair (one struct column), merged field-wise; readers
    * see the division ([[present]]), NULL for a group that never saw
    * a non-null value (SQL avg semantics — and the zero-count guard
    * keeps ANSI mode from throwing on 0/0). */
  final case class Avg(name: String, expr: Column) extends MvAgg {
    private[sources] def partial: Column =
      struct(sum(expr).as("s"), count(expr).cast("long").as("c")).as(name)
    private[sources] def merge(s: Column, i: Column): Column = {
      val ss = s.getField("s"); val is = i.getField("s")
      struct(coalesce(ss + is, ss, is).as("s"),
        (s.getField("c") + i.getField("c")).as("c"))
    }
    private[sources] override def present(c: Column): Column =
      when(c.getField("c") === lit(0L), lit(null))
        .otherwise(c.getField("s") / c.getField("c"))
    private[sources] override def retractable: Boolean = true
    private[sources] override def signedPartial: Column = {
      val sign = col(MaterializedView.SignCol)
      struct(sum(sign * expr).as("s"),
        // coalesce makes `c` provably non-null: the stored struct type
        // records a NOT NULL count field and a nullable->non-null
        // struct cast is unresolvable
        coalesce(sum(when(expr.isNotNull, sign).otherwise(lit(0L))), lit(0L))
          .cast("long").as("c")).as(name)
    }
    private[sources] override def neutral(c: Column): Column =
      (c.getField("s").isNull || c.getField("s") === lit(0)) &&
        c.getField("c") === lit(0L)
  }
  /** `approx_count_distinct(expr)` per group — the distinct-users
    * dashboard aggregate as MERGEABLE sketch state: an Apache
    * DataSketches HLL binary (`hll_sketch_agg`), folded with
    * `hll_union`; readers see the estimate. State is O(groups ×
    * sketch bytes) and a refresh unions only the delta's sketches —
    * the base table's distinct values are never re-scanned. */
  final case class ApproxDistinct(name: String, expr: Column) extends MvAgg {
    private[sources] def partial: Column = hll_sketch_agg(expr).as(name)
    private[sources] def merge(s: Column, i: Column): Column =
      when(s.isNull, i).when(i.isNull, s).otherwise(hll_union(s, i))
    private[sources] override def present(c: Column): Column =
      when(c.isNull, lit(0L)).otherwise(hll_sketch_estimate(c))
  }
}

/** An incrementally-maintained aggregate MATERIALIZED VIEW over a
  * [[LogTable]] — the rollup-maintenance shape every log pipeline
  * runs (the reference's dashboards re-aggregate the api table per
  * refresh, reference README.md:128-154; at 100 TB that re-scan is the
  * first thing an operator replaces with an incrementally maintained
  * rollup, which is what Databricks/Snowflake ship as "incremental MV
  * refresh").
  *
  * The view's state is itself a LogTable (so it inherits time travel,
  * atomic commits, compaction, the SQL/catalog read surface) holding
  * one row per group: the group-by keys, one column of mergeable
  * partial state per [[MvAgg]], and a derived merge key. [[refresh]]
  * reads ONLY the base rows appended since the last refresh
  * ([[LogTable.readAppends]] — maintenance-tolerant: base compaction
  * contributes nothing), partially aggregates that delta (one shuffle
  * over the DELTA, never the base), and MERGEs the partials into the
  * stored groups. Refresh cost is O(delta + affected groups),
  * independent of base size — the whole point at scale.
  *
  * EXACTLY-ONCE: the refreshed-through base version rides in the SAME
  * atomic commit as the merged state (the snapshot tag), so a crashed
  * refresh either never advanced the watermark (recompute is safe —
  * nothing was applied) or fully applied. Re-running refresh when
  * there is nothing new is a no-op by watermark compare. Double-apply
  * is impossible; this is the Structured-Streaming commit-log idea
  * expressed through the table's own snapshot lineage.
  *
  * Row-CHANGING base operations (delete/update/merge/rollback) cannot
  * be expressed as appended rows; [[refresh]] inherits readAppends'
  * loud failure there, and [[fullRefresh]] — one atomic full-source
  * merge that updates matched groups, inserts new ones, and deletes
  * vanished ones — resynchronizes the view. [[refreshOrFull]] picks
  * automatically.
  */
final class MaterializedView private (
    val base: LogTable,
    /** The view's state table — read-only from callers' perspective
      * except via refresh; maintenance (compact/expire) is fine. */
    val table: LogTable,
    val keyCols: Seq[String],
    val aggs: Seq[MvAgg]) {

  import MaterializedView._

  /** The base-table version this view reflects (0 = never refreshed).
    * Walks the view's snapshot lineage newest-first for the last
    * refresh commit's tag — maintenance commits in between carry
    * other tags and are skipped. */
  def refreshedVersion: Long =
    table.versions.sortBy(-_).iterator
      .map(v => table.snapshot(v).tag)
      .collectFirst { case t if t.startsWith(TagPrefix) =>
        t.stripPrefix(TagPrefix).toLong }
      .getOrElse(0L)

  /** The view's contents: one row per group, keys + aggregate columns
    * in result form (derived-state aggregates present their result —
    * Avg divides, sketches estimate; the internal merge key is
    * dropped by the projection). */
  def read(): DataFrame = {
    val t = table.read()
    // a never-refreshed view has no recorded schema yet (its state
    // table is a column-less empty relation): nothing to present
    if (!(keyCols ++ aggs.map(_.name)).forall(n =>
        t.columns.exists(_.equalsIgnoreCase(n)))) t.drop(KeyCol)
    else t.select(
      keyCols.map(col) ++ aggs.map(a => a.present(col(a.name)).as(a.name)): _*)
  }

  /** Incremental refresh: fold base rows appended in
    * (refreshedVersion, base.currentVersion] into the stored groups.
    * Returns the new refreshed-through version (unchanged if there was
    * nothing to fold). O(delta) scan + a merge that rewrites only
    * files holding affected groups. */
  def refresh(): Long = {
    val from = refreshedVersion
    val to = base.currentVersion
    if (to <= from) return from
    upsert(partials(base.readAppends(from, to)), to, full = false)
    to
  }

  /** Full resynchronization in ONE atomic commit: re-aggregate the
    * base, replace matched groups' state, insert new groups, delete
    * groups no longer present (merge's not-matched-by-source clause).
    * The recovery path after row-changing base operations — and the
    * proof obligation for refresh(): both must converge to the same
    * contents. */
  def fullRefresh(): Long = {
    val to = base.currentVersion
    upsert(partials(base.read()), to, full = true)
    to
  }

  /** Incremental refresh THROUGH row-changing base operations —
    * incremental view maintenance with RETRACTIONS: fold the base's
    * CDC changelog over (refreshedVersion, current] into the stored
    * state, inserts as +1 and deletes as -1 contributions, in one
    * atomic merge that also deletes groups netting to zero rows.
    * O(changed rows + affected groups), never a base re-scan — the
    * IVM upgrade over [[fullRefresh]] for delete/update-heavy bases.
    * Eligible when every aggregate is retractable (Count/Sum/Avg;
    * Min/Max and sketches cannot un-see a deleted row) and the view
    * carries a Count — the group-death detector. Exactly-once by the
    * same watermark tag as [[refresh]]. */
  def refreshCdc(): Long = {
    require(aggs.forall(_.retractable),
      s"refreshCdc needs every aggregate retractable (Count/Sum/Avg); " +
        s"[${aggs.filterNot(_.retractable).map(_.name).mkString(", ")}] " +
        "cannot retract — use fullRefresh() after row-changing base ops")
    val cnt = aggs.collectFirst { case c: MvAgg.Count => c }.getOrElse(
      throw new IllegalArgumentException(
        "refreshCdc needs a Count aggregate (the group-death detector: " +
          "a group netting to zero rows must leave the state)"))
    val from = refreshedVersion
    val to = base.currentVersion
    if (to <= from) return from
    val cdc = base.readCdc(from, to)
    require(!cdc.columns.exists(_.equalsIgnoreCase(SignCol)),
      s"base table carries reserved column '$SignCol'")
    val signed = cdc.withColumn(SignCol,
      when(col(LogTable.ChangeTypeCol) === "insert", lit(1L)).otherwise(lit(-1L)))
    val first +: rest = aggs.map(_.signedPartial): @unchecked
    val delta = signed.groupBy(keyCols.map(col): _*)
      .agg(first, rest: _*)
      // drop ALL-NEUTRAL delta rows: no-ops for matched groups, and a
      // group born and fully died inside the window must not insert an
      // all-zero state row (it never makes it into the view)
      .filter(!aggs.map(a => a.neutral(col(a.name))).reduce(_ && _))
      .withColumn(KeyCol, keyExpr(keyCols))
    val set = aggs.map(a => a.name -> a.merge(col(a.name), col(s"src_${a.name}"))).toMap
    val insertAll = (keyCols ++ aggs.map(_.name) :+ KeyCol)
      .map(n => n -> col(n)).toMap
    // PINNED across the merge: the delta (a CDC diff — the most
    // expensive subtree a refresh owns) feeds merge's discovery
    // semi-join, dup-key guard, insert anti-join and rewrite legs —
    // each its own action; unpinned, every one re-runs the whole
    // changelog read (the multi-consumer re-compute pitfall; measured
    // 22 jobs → 9 on the near-dedup delete refresh at sf0.1)
    graft.Pins.scope { pins =>
      table.merge(pins(delta), KeyCol,
        matchedDeleteWhen =
          Some(col(cnt.name) + col(s"src_${cnt.name}") === lit(0L)),
        matchedSet = Some(set),
        insertValues = Some(insertAll),
        tag = s"$TagPrefix$to",
        sourceKeysUnique = true) // groupBy(keys) output — unique by construction
    }
    to
  }

  /** refresh(), falling back when the appended-rows walk refuses (a
    * row-changing base operation in the range): [[refreshCdc]] when
    * every aggregate can retract and a Count is present (O(changed
    * rows)), else [[fullRefresh]] (one base re-scan). Catches ONLY
    * the maintenance-boundary refusal — genuine user errors (reserved
    * columns, bad state) surface instead of silently degrading into a
    * slower refresh. If the CDC history a retraction fold would
    * replay has been expired, falls back to the full rebuild (the
    * documented contract: refreshOrFull always converges). */
  def refreshOrFull(): Long =
    try refresh()
    catch { case _: LogTable.MaintenanceBoundaryException =>
      if (aggs.forall(_.retractable) &&
          aggs.exists(_.isInstanceOf[MvAgg.Count]))
        try refreshCdc()
        catch { case _: LogTable.CdcHistoryExpiredException => fullRefresh() }
      else fullRefresh() }

  /** Group-by keys + one partial-state column per aggregate + the
    * null-safe derived merge key. */
  private def partials(input: DataFrame): DataFrame = {
    val first +: rest = aggs.map(_.partial): @unchecked
    input.groupBy(keyCols.map(col): _*)
      .agg(first, rest: _*)
      .withColumn(KeyCol, keyExpr(keyCols))
  }

  private def upsert(delta: DataFrame, toVersion: Long, full: Boolean): Unit = {
    val insertAll = (keyCols ++ aggs.map(_.name) :+ KeyCol)
      .map(n => n -> col(n)).toMap
    val set =
      if (full) aggs.map(a => a.name -> col(s"src_${a.name}")).toMap
      else aggs.map(a => a.name -> a.merge(col(a.name), col(s"src_${a.name}"))).toMap
    // PINNED across the merge (cf. refreshCdc): the partial-aggregate
    // delta feeds several independent merge actions — one shuffle over
    // the delta instead of one per consumer
    graft.Pins.scope { pins =>
      table.merge(pins(delta), KeyCol,
        matchedSet = Some(set),
        insertValues = Some(insertAll),
        notMatchedBySourceDelete = if (full) Some(lit(true)) else None,
        tag = s"$TagPrefix$toVersion",
        sourceKeysUnique = true) // groupBy(keys) output — unique by construction
    }
    ()
  }
}

object MaterializedView {
  /** Internal single-column merge key (merge joins on one column):
    * md5 of the keys rendered as JSON WITH null fields kept, so
    * (`a`, NULL) and (NULL, `a`) cannot collide the way a separator
    * join would. Collision probability at 128 bits is below any
    * hardware error rate. */
  private[sources] val KeyCol = "mv_key"
  /** The ±1 change-sign column [[MaterializedView.refreshCdc]] adds to
    * the base's CDC frame (insert = +1, delete = -1). */
  private[sources] val SignCol = "mv_sign"
  private[sources] def keyExpr(keyCols: Seq[String]): Column =
    md5(to_json(struct(keyCols.map(col): _*),
      Map("ignoreNullFields" -> "false")))

  /** Refresh-commit tag: `mv-base-v<version>` — the watermark channel
    * that makes refresh exactly-once (see class doc). */
  private[sources] val TagPrefix = "mv-base-v"

  /** Create (or re-open) the view whose state lives at `dir`. The
    * definition is the caller's; on re-open of a non-empty state table
    * the recorded schema must carry exactly the definition's columns —
    * a drifted definition fails loudly instead of merging nonsense
    * into existing state. */
  def apply(spark: SparkSession, base: LogTable, dir: String,
      keyCols: Seq[String], aggs: Seq[MvAgg]): MaterializedView = {
    require(keyCols.nonEmpty, "materialized view needs at least one group key")
    require(aggs.nonEmpty, "materialized view needs at least one aggregate")
    val names = keyCols ++ aggs.map(_.name)
    require(names.map(_.toLowerCase).distinct.size == names.size,
      s"duplicate column names in view definition: ${names.mkString(", ")}")
    require(!names.exists(_.equalsIgnoreCase(KeyCol)),
      s"'$KeyCol' is reserved for the view's merge key")
    require(!names.exists(_.equalsIgnoreCase(SignCol)),
      s"'$SignCol' is reserved for the CDC refresh's change sign")
    val table = LogTable(spark, dir)
    val snap = table.snapshot()
    if (snap.files.nonEmpty || snap.schemaJson.nonEmpty) {
      val recorded = org.apache.spark.sql.types.DataType
        .fromJson(snap.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.map(_.toLowerCase).toSet
      val expected = (names :+ KeyCol).map(_.toLowerCase).toSet
      require(recorded == expected,
        s"view state at $dir records columns ${recorded.toSeq.sorted.mkString(", ")} " +
          s"but the definition declares ${expected.toSeq.sorted.mkString(", ")} — " +
          "the definition changed; rebuild the view in a new directory")
    }
    new MaterializedView(base, table, keyCols, aggs)
  }
}
