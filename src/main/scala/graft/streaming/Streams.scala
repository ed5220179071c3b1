package graft.streaming

import graft.{Cols, Pins, Tables}
import graft.sources.LogTable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming re-expression of the reference's continuous
  * ingest loop (reference README.md:200-212, run.sh `continuous`):
  * API-log events stream in, get flushed as parquet batches, and are
  * committed ATOMICALLY to the table — here `foreachBatch` →
  * [[LogTable.append]], which is exactly that flush→atomic-commit
  * cycle on Spark's micro-batch engine.
  *
  * Window/session semantics are defined ONCE over plain DataFrames and
  * shared by the batch oracle queries and the streaming variants, so
  * the spec can assert stream == batch on identical input.
  *
  * Scale notes: watermark + tumbling window keeps state bounded per
  * (window, type); sessionization state is per-user (high-cardinality
  * shuffle key), so state stores scale horizontally with executors.
  */
object Streams {

  // ------------------------------------------------------ shared semantics

  /** Windowed aggregation over (event_time, event_type, value) —
    * identical logical op for batch and stream; slide == dur is a
    * tumbling window. */
  def windowAgg(df: DataFrame, dur: String, slide: String): DataFrame =
    df.groupBy(window(col("event_time"), dur, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Tumbling-window aggregation — windowAgg with slide == dur. */
  def tumblingAgg(df: DataFrame, dur: String): DataFrame =
    windowAgg(df, dur, dur)

  /** `events` projected to the streaming-shaped columns. */
  def eventsShaped(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      timestamp_micros(col("ts_us")).as("event_time"),
      col("event_type"), col("value"), col("user_id"), col("ts_us"))

  /** Batch tumbling window (oracle-checked; same code path the stream
    * uses, so the stream_window spec proves shared semantics). */
  def eventsTumbling(s: SparkSession, dir: String): DataFrame =
    tumblingAgg(eventsShaped(s, dir), "15 minutes")
      .orderBy(col("w_start"), col("event_type"))

  /** Sliding-window aggregation: 30-minute windows sliding every
    * 15 minutes — each event lands in exactly width/slide = 2 windows.
    * Spark's window() generates the containing windows BEFORE the
    * shuffle, so the cost is a 2× row multiply into the same single
    * hash aggregation as tumbling — the scale-canonical sliding
    * implementation (never a self-join of windows against events). */
  def eventsSliding(s: SparkSession, dir: String): DataFrame =
    windowAgg(eventsShaped(s, dir), "30 minutes", "15 minutes")
      .orderBy(col("w_start"), col("event_type"))

  // ---------------------------------------------------------- stream ops

  /** Watermarked windowed aggregation of a streaming frame (tumbling
    * by default; pass `slide` for sliding windows — state grows by
    * dur/slide open windows per key, bounded by the watermark). */
  def streamWindow(stream: DataFrame, watermark: String = "1 hour",
      dur: String = "15 minutes", slide: String = null): DataFrame =
    windowAgg(stream.withWatermark("event_time", watermark), dur,
      Option(slide).getOrElse(dur))

  /** The reference's flush→atomic-commit loop: every micro-batch
    * becomes ONE atomic multi-file LogTable commit. Readers of the
    * table never see a partial batch, and commits are tagged with the
    * micro-batch id so a crash between commit and checkpoint advance
    * cannot double-ingest the batch on restart — exactly-once, not
    * just at-least-once. */
  def streamIngest(stream: DataFrame, table: LogTable,
      checkpoint: String): StreamingQuery =
    streamIngestWithMaintenance(stream, table, checkpoint, compactEvery = 0)

  /** streamIngest plus the reference's periodic-maintenance loop:
    * every `compactEvery` batches the ingest also bin-packs the small
    * files it has been producing (reference run.sh runs compaction on
    * a cadence alongside continuous ingest). Maintenance inside the
    * same foreachBatch serializes compaction with this writer's
    * appends; concurrent writers are still safe via the stale-retry
    * commit protocol. 0 disables maintenance. */
  /** streamIngest with a CONTINUOUSLY-CURRENT ICEBERG MIRROR: after
    * each batch's atomic commit (every `mirrorEvery` batches) the
    * table's current snapshot re-exports as real Iceberg v2 metadata
    * under `mirror` — the reference's end-to-end promise (continuous
    * ingest, "queryable by any Iceberg-compatible engine", reference
    * README.md:26-30 + 200-212) as one helper. Each refresh writes
    * the NEXT vN.metadata.json and bumps version-hint (HadoopTables
    * convention), so a foreign reader polling the mirror always sees
    * a complete, self-consistent table; the export is a metadata
    * projection (zero data I/O), so the per-batch overhead is
    * milliseconds, not a data copy. */
  def streamIngestWithIcebergMirror(stream: DataFrame, table: LogTable,
      checkpoint: String, mirror: String,
      mirrorEvery: Int = 1): StreamingQuery = {
    require(mirrorEvery >= 1, "mirrorEvery must be >= 1")
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.append(batch, tag = s"stream-batch-$batchId")
        if (batchId % mirrorEvery == mirrorEvery - 1)
          graft.sources.IcebergExport.export(table, mirror)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  def streamIngestWithMaintenance(stream: DataFrame, table: LogTable,
      checkpoint: String, compactEvery: Int): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.append(batch, tag = s"stream-batch-$batchId")
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
          table.compact()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** CDC REPLICATION: apply the source table's changelog in
    * (`fromVersion`, `toVersion`] to a downstream keyed table — the
    * standard lakehouse ETL hop (Delta's CDF apply / Debezium-style
    * sink), which unlike [[tailInto]] propagates DELETES and UPDATES,
    * not just appends. The changelog is first NETTED per key (latest
    * commit wins; within one commit the inserted new row beats the
    * deleted old row), so one call spanning many source commits
    * applies each key's FINAL state once: surviving keys upsert
    * (equality-upsert, O(batch)), vanished keys tombstone
    * (equality-delete, zero table I/O). Netting also makes replay
    * IDEMPOTENT — re-running any range converges to the same
    * destination state, so a crashed hop is resumed by re-running it.
    * Requires `key`-unique rows in the source (the same contract every
    * keyed CDC consumer assumes). Returns the applied toVersion. */
  def cdcApply(src: LogTable, dst: LogTable, key: String,
      fromVersion: Long, toVersion: Long): Long = Pins.scope { pins =>
    import org.apache.spark.sql.expressions.Window
    val cdc = src.readCdc(fromVersion, toVersion)
    val w = Window.partitionBy(col(key)).orderBy(
      col(LogTable.CommitVersionCol).desc,
      when(col(LogTable.ChangeTypeCol) === "insert", 1).otherwise(0).desc)
    val net = pins(cdc.withColumn("_cdc_rn", row_number().over(w))
      .filter(col("_cdc_rn") === 1).drop("_cdc_rn"))
    val ins = net.filter(col(LogTable.ChangeTypeCol) === "insert")
      .drop(LogTable.ChangeTypeCol, LogTable.CommitVersionCol)
    val del = net.filter(col(LogTable.ChangeTypeCol) === "delete")
      .select(col(key))
    if (!ins.isEmpty) dst.upsertEq(ins, key, tag = s"cdc-$fromVersion-$toVersion")
    if (!del.isEmpty) dst.deleteEq(del)
    toVersion
  }

  /** Continuous ROLLUP maintenance: each micro-batch lands in the
    * view's base table as one atomic tagged append, then the attached
    * [[graft.sources.MaterializedView]] folds exactly the newly
    * committed rows into its stored per-group state — the reference's
    * dashboard rollups (reference README.md:128-154 re-aggregate per
    * refresh) kept continuously current at O(batch) cost per trigger.
    * Exactly-once BOTH ways on restart: a replayed batch is skipped by
    * its commit tag (the append never re-lands), and refresh() is
    * idempotent by its own watermark (a crash between append and
    * refresh re-folds from the watermark, not from zero; a crash after
    * refresh no-ops). Readers join the view against base time travel
    * freely — both are plain LogTables. */
  def streamRollup(stream: DataFrame, mv: graft.sources.MaterializedView,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val tag = s"stream-batch-$batchId"
        if (!mv.base.hasTag(tag)) mv.base.append(batch, tag)
        mv.refresh()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Write-audit-publish ingest — the reference's leader-commit loop
    * upgraded to WAP (Iceberg's branch-based audit pattern): each
    * micro-batch commits to a THROWAWAY AUDIT BRANCH, the `audit`
    * callback examines exactly the rows that landed (throw = veto),
    * and only a passing batch fast-forwards to main. Main's lineage
    * therefore contains ONLY `publish` commits — a reader of main can
    * never observe unaudited rows, not even mid-batch (branch commits
    * are invisible to main by construction). A vetoed batch drops its
    * branch and fails the query loudly: data flow stops rather than
    * publishing bad rows — the contract an audit gate exists for.
    * Restart-safe: the publish carries the batch tag, so a crash
    * between publish and checkpoint advance cannot double-ingest.
    * Single publisher per table, as with the reference's leader. */
  def streamIngestWAP(stream: DataFrame, table: LogTable, checkpoint: String,
      audit: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val tag = s"wap-batch-$batchId"
        if (!table.hasTag(tag)) {
          val bname = s"wap-$batchId"
          // a crashed attempt's branch may linger; its rows never
          // published (no tag on main), so rebuild it from scratch
          if (table.branches.contains(bname)) table.dropBranch(bname)
          val b = table.createBranch(bname)
          val committed = b.append(batch)
          try audit(b.readAppends(1L, committed.version))
          catch {
            case e: Throwable =>
              table.dropBranch(bname)
              throw new IllegalStateException(
                s"audit vetoed batch $batchId; nothing published", e)
          }
          table.fastForward(bname, tag)
          table.dropBranch(bname)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-static enrichment: join each streaming event to a static
    * dimension snapshot. The dim side broadcasts per micro-batch —
    * no stream-side state, the canonical enrichment shape (at 100 TB
    * the stream shuffles nothing; each executor holds the dim). */
  def streamEnrich(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** Watermarked STREAM-STREAM inner join — the attribution shape
    * (each purchase joined to the same user's clicks in the preceding
    * `within` window) over two live streams. Both sides carry a
    * watermark and the join condition carries an explicit event-time
    * bound, which is exactly what lets Spark EVICT state: a buffered
    * click older than watermark+within can never match a future
    * purchase and is dropped, so state is bounded by the time window ×
    * arrival rate, never by stream history — the only state story that
    * survives a continuous 100 TB/day feed. Without the time bound the
    * join would be rejected (unbounded state), and that rejection is
    * the right default at scale.
    *
    * Inputs are any frames shaped (event_time, user_id) on the click
    * side and (event_time, user_id, value) on the purchase side;
    * StreamsSpec proves stream == batch inequality join on identical
    * input. */
  def streamStreamJoin(clicks: DataFrame, purchases: DataFrame,
      within: String = "30 minutes", watermark: String = "1 hour"): DataFrame =
    attributionJoin(clicks, purchases, within, watermark, "inner")

  /** LEFT OUTER stream-stream join — the attribution-COMPLETENESS
    * shape: every purchase emits, with its matching prior click or,
    * once the watermark proves no click can still arrive for it, with
    * NULLs. The outer side is exactly why the time bound + watermarks
    * are mandatory: a purchase can only be declared unmatched when
    * event time has provably moved past its match window, and the
    * same proof lets the buffered state be evicted. Emission of
    * unmatched rows therefore trails the watermark by design — batch
    * parity holds once the watermark passes the data (StreamsSpec
    * drives it with a sentinel batch). */
  def streamStreamJoinOuter(clicks: DataFrame, purchases: DataFrame,
      within: String = "30 minutes", watermark: String = "1 hour"): DataFrame =
    attributionJoin(clicks, purchases, within, watermark, "left_outer")

  /** Shared body of the two attribution joins — ONE place owns the
    * watermark prep, the time-bound condition, and the output shape
    * (user_id, click_time, purchase_time, value), so the inner and
    * outer variants can never drift apart. For the outer variant the
    * PURCHASE side drives (joinType names its orientation): unmatched
    * purchases surface with a null click_time. */
  private def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      within: String, watermark: String, joinType: String): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", watermark)
    val p = purchases.select(col("user_id").as("p_user"),
        col("event_time").as("purchase_time"), col("value"))
      .withWatermark("purchase_time", watermark)
    val cond = expr(
      s"""c_user = p_user AND
         |purchase_time >= click_time AND
         |purchase_time <= click_time + interval $within""".stripMargin)
    val joined =
      if (joinType == "inner") c.join(p, cond)
      else p.join(c, cond, joinType)
    joined.select(
      coalesce(col("c_user"), col("p_user")).as("user_id"),
      col("click_time"), col("purchase_time"), col("value"))
  }

  /** Streaming exact dedup: drop rows whose key was already seen
    * within the watermark horizon — the ingest-time dedup stage of a
    * training-data pipeline. State is bounded BY the watermark (keys
    * older than it are evicted), so state size tracks the event-time
    * window, not the stream's history — the only way dedup state
    * survives an unbounded 100 TB/day stream. */
  def streamDedup(stream: DataFrame, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    stream.withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming heavy hitters: the same bounded-state Misra-Gries
    * aggregator the batch log_heavy_hitters query uses, folded over a
    * stream — the "top talkers right now" dashboard feed. The sketch
    * state (≤ capacity counters) IS the streaming state, merged
    * per-batch by the same associative merge the batch shuffle uses,
    * so stream and batch agree exactly whenever the key cardinality
    * stays under capacity (StreamsSpec) and within the n/(c+1) bound
    * otherwise. */
  def streamHeavyHitters(stream: DataFrame, k: Int, capacity: Int): DataFrame = {
    val sess = stream.sparkSession
    import sess.implicits._
    graft.functions.HeavyHitters.topToRows(
      stream.select(col("user_id").cast("string")).as[String]
        // single-key funnel BY DESIGN, not a scale bug: the typed
        // Aggregator runs partial aggregation per input partition, so
        // what reaches the one reducer is ≤ capacity counters PER
        // PARTITION (the merged sketch state), never raw rows — the
        // same O(partitions × capacity) a batch sketch merge ships.
        .groupByKey(_ => 0)
        .agg(new graft.functions.HeavyHitters(k, capacity).toColumn.name("top"))
        .toDF("g", "top"))
  }

  // ------------------------------------------------------- table tailing

  /** The READ half of the reference's continuous pipeline (reference
    * README.md:191-212: a commit lands every ~3 min and the table is
    * queried continuously): tail a [[LogTable]] as a stream of
    * append-batches, exactly-once across consumer restarts.
    *
    * Mechanics — the same write-ahead contract Spark's micro-batch
    * engine keeps in its offset log, re-expressed over the manifest
    * version axis (the table's commit version IS the stream offset):
    *
    *  1. poll() pins the batch range: it writes an INTENT record
    *     (from, to] to the checkpoint dir before calling the handler,
    *     so a crashed batch is retried with the IDENTICAL range even
    *     if the table advanced meanwhile — re-delivery is byte-equal,
    *     which is what lets an idempotent sink dedup it;
    *  2. the handler processes [[LogTable.readAppends]](from, to) —
    *     maintenance-tolerant: in-loop compaction contributes no rows;
    *  3. only after the handler returns does the cursor advance and
    *     the intent clear (atomic rename; single consumer per
    *     checkpoint dir, as with Spark checkpoints).
    *
    * A handler that appends to a LogTable with the batch tag (what
    * [[Streams.tailInto]] wires up) is exactly-once end-to-end: a
    * crash between sink-commit and cursor-advance replays the same
    * (from, to] whose tag the sink already holds, and the re-delivery
    * drops. */
  final class TableTail private[streaming] (val table: LogTable,
      checkpointDir: String) {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    private val dir = Paths.get(checkpointDir)
    Files.createDirectories(dir)
    private val cursorFile = dir.resolve("cursor")
    private val intentFile = dir.resolve("intent")

    /** Last fully-consumed table version (0 = nothing consumed). */
    def cursor: Long =
      if (Files.exists(cursorFile)) Files.readString(cursorFile).trim.toLong else 0L

    private def writeAtomic(p: java.nio.file.Path, s: String): Unit = {
      val tmp = dir.resolve(p.getFileName.toString + ".tmp")
      Files.writeString(tmp, s)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

    /** Consume at most one batch: false if no new commits. The handler
      * receives (appendedRows, fromVersion, toVersion); `tag` is the
      * idempotence key an exactly-once sink should commit under. */
    def poll()(f: (DataFrame, Long, Long) => Unit): Boolean = {
      val from = cursor
      // a pinned intent from a crashed batch replays FIRST, verbatim
      val (pf, pt) =
        if (Files.exists(intentFile)) {
          val Array(a, b) = Files.readString(intentFile).trim.split(":")
          (a.toLong, b.toLong)
        } else {
          val to = table.currentVersion
          if (to <= from) return false
          writeAtomic(intentFile, s"$from:$to")
          (from, to)
        }
      f(table.readAppends(pf, pt), pf, pt)
      writeAtomic(cursorFile, pt.toString)
      Files.deleteIfExists(intentFile)
      true
    }

    /** The idempotence tag for a batch range — stable across replays
      * because the range itself is pinned by the intent record. */
    def tag(from: Long, to: Long): String = s"tail-$from-$to"

    /** Drain everything currently committed (poll until false). */
    def catchUp()(f: (DataFrame, Long, Long) => Unit): Int = {
      var n = 0
      while (poll()(f)) n += 1
      n
    }
  }

  /** Open (or resume) a tail of `table` checkpointed at
    * `checkpointDir`. */
  def tableTail(table: LogTable, checkpointDir: String): TableTail =
    new TableTail(table, checkpointDir)

  /** Continuous table-to-table pipe: drain `source`'s new appends into
    * `sink` as atomic tagged commits — exactly-once end-to-end under
    * crash/restart (tag dedup absorbs the replay of a pinned batch).
    * Returns the number of batches committed this call; run it on the
    * consumer's cadence. */
  def tailInto(tail: TableTail, sink: LogTable): Int =
    tail.catchUp() { (df, from, to) =>
      sink.append(df, tag = tail.tag(from, to))
      ()
    }

  // ----------------------------------------------- stateful sessionization

  case class SessionEvent(user_id: Long, ts_us: Long)
  case class SessionState(lastUs: Long, cur: Long, nSessions: Long, maxEv: Long)
  case class SessionSummary(user_id: Long, n_sessions: Long, max_session_events: Long)

  /** 30-minute-gap sessionization as explicit streaming state — the
    * stream analog of LogAnalytics.logSessions' lag-window batch query.
    * State per user: last-seen time, current-session length, session
    * count, max session length; each batch folds its (sorted) events
    * into that state and emits the user's updated summary. */
  def sessionize(events: Dataset[SessionEvent],
      gapUs: Long = 1800L * 1000000L): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (uid: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L, 0L))
          evs.toSeq.sortBy(e => (e.ts_us, 0L)).foreach { e =>
            st = if (st.cur == 0L || e.ts_us - st.lastUs > gapUs)
              SessionState(e.ts_us, 1L, st.nSessions + 1L, math.max(st.maxEv, 1L))
            else
              SessionState(e.ts_us, st.cur + 1L, st.nSessions, math.max(st.maxEv, st.cur + 1L))
          }
          state.update(st)
          Iterator(SessionSummary(uid, st.nSessions, st.maxEv))
        })
  }

  // -------------------------------------------- DSv2 end-to-end roundtrip

  /** The reference's whole continuous pipeline on first-class Spark
    * streaming — write half AND read half (reference README.md:191-212):
    * `events` lands in a LogTable as three atomic commits plus an
    * in-loop compaction, then `spark.readStream.format("graft")`
    * (offset = manifest version, [[graft.sources.GraftTableProvider]])
    * tails it into an exactly-once sink table. The aggregate over the
    * SINK must equal the batch aggregate over the source parquet (the
    * DuckDB oracle) — any lost, duplicated, or compaction-resurfaced
    * row breaks the hash match. */
  def streamTail(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val root = graft.Scratch.dir("graft_tail_src_").toString
    val src = LogTable(s, root)
    val sink = LogTable(s, graft.Scratch.dir("graft_tail_sink_").toString)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("event_type"), col("value"))
    (0 until 3).foreach { i =>
      src.append(ev.filter(pmod(col("event_id"), lit(3)) === i))
    }
    src.compact() // row-preserving maintenance mid-stream: contributes nothing
    val q = s.readStream.format("graft").load(root)
      .writeStream
      .option("checkpointLocation",
        graft.Scratch.dir("graft_tail_cp_").toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        sink.append(b, tag = s"tail-$id")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sink.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** STREAMING CDC end-to-end: events ingest day-partitioned in three
    * batches, retention drops everything before the cut as a
    * manifest-only delete, a COW UPDATE rewrites the surviving error
    * rows (replayed through commit-time CHANGE FILES —
    * `write.cdc.enabled`, the Delta-CDF hop a plain file diff cannot
    * represent), and a `readChanges` stream replays the WHOLE
    * history — inserts, the retention deletes, and the update's
    * pre/post-images — into a sink whose NET aggregate (+row for
    * insert, −row for delete; exact decimal arithmetic) must equal
    * the oracle's update-then-filter algebra over the source.
    * Exactly-once across micro-batches; each change announced exactly
    * once; already-invisible rows never re-announced. */
  def streamCdc(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import graft.sources.Transform
    val root = graft.Scratch.dir("graft_cdcq_src_").toString
    val src = LogTable(s, root, hiddenBy = Seq(Transform.day("ts_us")))
    val sink = LogTable(s, graft.Scratch.dir("graft_cdcq_sink_").toString)
    src.setProperties(Map(LogTable.CdcEnabledProp -> "true"))
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("event_type"), col("value"), col("ts_us"))
    (0 until 3).foreach { i =>
      src.append(ev.filter(pmod(col("event_id"), lit(3)) === i))
    }
    val cut = 1704844800000000L // 2024-01-10 00:00:00 UTC (day boundary)
    src.delete(col("ts_us") < cut) // metadata-only retention
    // COW hop: the first retained day's error rows repriced — a mixed
    // add+remove commit, replayable ONLY through its staged change
    // files; the day bound keeps the rewrite (and its change data)
    // scoped to one partition's files, the realistic correction shape
    src.update(col("event_type") === "error" &&
        col("ts_us") < lit(cut + 86400000000L),
      Map("value" -> lit(9999.25)))
    val q = s.readStream.format("graft").option("readChanges", "true").load(root)
      .writeStream
      .option("checkpointLocation",
        graft.Scratch.dir("graft_cdcq_cp_").toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        sink.append(b, tag = s"cdc-$id")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    sink.read()
      .groupBy(col("event_type"))
      .agg(sum(sign).cast("long").as("n"),
        Cols.asDouble(sum(when(col("_change_type") === "insert",
            Cols.money(col("value"))).otherwise(-Cols.money(col("value")))))
          .as("total_value"))
      .orderBy(col("event_type"))
  }

  /** STREAMING DEDUP end-to-end, oracle-gated: the ingest-time dedup
    * stage over a live tail — the source table lands the corpus in two
    * commits with a REPLAYED slice (every event_id % 10 == 0 row is
    * delivered again in the second commit — the crawler-redelivery
    * shape), the stream tails it through [[streamDedup]]
    * (dropDuplicatesWithinWatermark keyed on event_id; the test horizon
    * covers the whole corpus so every redelivery drops — production
    * sets the horizon to its real redelivery window, which is what
    * BOUNDS the state), and the sink's census must hash-equal DuckDB
    * over the corpus WITHOUT the replay: a surviving duplicate
    * inflates a count, a lost original breaks a group. */
  def streamDedupQ(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Scratch.dir("graft_sdd_src_").toString
    val src = LogTable(s, root)
    val sink = LogTable(s, graft.Scratch.dir("graft_sdd_sink_").toString)
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("event_type"), col("value"), col("ts_us"))
    src.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))
    src.append(ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .unionByName(ev.filter(pmod(col("event_id"), lit(10)) === 0)))
    val stream = s.readStream.format("graft").load(root)
      .withColumn("event_time", expr("timestamp_micros(ts_us)"))
    val q = streamDedup(stream, Seq("event_id"), watermark = "3650 days")
      .writeStream
      .option("checkpointLocation",
        graft.Scratch.dir("graft_sdd_cp_").toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        sink.append(b.drop("event_time"), tag = s"sdd-$id")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sink.read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_ids"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("event_type"))
  }

  // ------------------------------------------------------- driver wiring

  /** STREAMING NEAR-DEDUP INGEST — the continuous-crawl production
    * loop as an actual stream: the planted corpus lands in a source
    * table in three commits (the arrival batches), a graft stream
    * replays them with `maxVersionsPerTrigger = 1` (one micro-batch
    * per commit — deterministic batch boundaries), and the
    * foreachBatch sink runs EXACTLY [[graft.operators.Pipeline]]'s
    * near-ingest step per micro-batch: band-index probe, ≥6/8 stripe
    * verification, quarantine, fate log, digest-MV fold. Bound to
    * pipeline_ingest_near's SAME oracle, so the hash gate proves the
    * micro-batch-driven state evolution is byte-identical to the
    * batch loop's — the streaming form is the production shape (a
    * crawler feeding commits; the dedup state lives in tables, not in
    * Spark streaming state, so it survives restarts and is shared by
    * any number of writers). */
  def streamDedupNearQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pipeline
    val srcRoot = graft.Scratch.dir("graft_sdn_src_").toString
    val src = LogTable(s, srcRoot)
    Pins.scope { pins =>
      val d = pins(Pipeline.nearSigFrame(s, dir))
      d.count()
      (0L until 3L).foreach { b =>
        src.append(d.filter(pmod(col("doc_id"), lit(3L)) === b).coalesce(4))
      }
    }
    val st = Pipeline.nearDedupState(s,
      graft.Scratch.dir("graft_sdn_state_"))
    val q = s.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1")
      .load(srcRoot)
      .writeStream
      .option("checkpointLocation",
        graft.Scratch.dir("graft_sdn_cp_").toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        Pipeline.ingestNearStep(st, b, tag = s"sdn-$id")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    st.fateLog.read().select(col("doc_id"), col("source"), col("fate"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_tumbling" -> (eventsTumbling _),
    "events_sliding" -> (eventsSliding _),
    "stream_tail" -> (streamTail _),
    "stream_dedup" -> (streamDedupQ _),
    "stream_dedup_near" -> (streamDedupNearQ _),
    "stream_cdc" -> (streamCdc _),
  )

  val oracles: Map[String, String] = Map(
    // byte-identical to the batch loop by construction: one
    // micro-batch per source commit = the same three arrival batches,
    // the same state evolution — the shared oracle proves it
    "stream_dedup_near" ->
      graft.operators.Pipeline.oracles("pipeline_ingest_near"),
    // the replayed slice must vanish: the sink equals the plain corpus
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT event_id) AS n_ids,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Spark's window() aligns to the epoch; mirror with integer-µs floor.
    "events_tumbling" ->
      """SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS w_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Each event's 2 containing 30-min/15-min-slide windows: start_k =
    // floor((ts - k*slide)/width)*width + k*slide for k in {0,1}.
    "events_sliding" ->
      """SELECT make_timestamp(
        |    ((epoch_us(ts) - k * 900000000) // 1800000000) * 1800000000 + k * 900000000
        |  ) AS w_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events, (SELECT unnest(range(0, 2)) AS k) s
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // exactly-once tail: the sink aggregate equals the batch aggregate
    "stream_tail" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the replayed change feed's net state == the retained rows with
    // the COW repricing applied (errors → the constant)
    "stream_cdc" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN event_type = 'error'
        |      AND ts < TIMESTAMP '2024-01-11 00:00:00'
        |    THEN CAST(9999.25 AS DECIMAL(12,2))
        |    ELSE CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS total_value
        |FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
