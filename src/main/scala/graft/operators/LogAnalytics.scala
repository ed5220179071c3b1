package graft.operators

import graft.{Cols, Pins, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's own query surface (see /root/reference/README.md:125-168
  * and init-setup.py:159-173): count, recent-N, per-operation counts,
  * time-range predicates, error analysis — re-expressed over the `events`
  * log table with Spark's DataFrame API, plus the log-analytics staples a
  * production deployment of that pipeline runs (hourly rollups, JSON
  * prop extraction, top-k actors, sessionization, funnels).
  *
  * Scale notes: every query is a declarative plan — filters and column
  * pruning reach the parquet scan; group-bys get map-side partial
  * aggregation; windows partition by high-cardinality keys (user_id) so
  * no single partition explodes at 100 TB.
  */
object LogAnalytics {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** README.md:142 `SELECT COUNT(*) FROM api` */
  def logCount(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).agg(count(lit(1)).as("n"))

  /** README.md:145-148 recent logs: ORDER BY time DESC LIMIT 20. */
  def logRecent(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("ts_us"))
      .orderBy(col("ts_us").desc, col("event_id"))
      .limit(20)

  /** README.md:151-154 calls by type: GROUP BY name ORDER BY cnt DESC. */
  def logByType(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("cnt").desc, col("event_type"))

  /** README.md:157-160 time-range scan; the ts predicate is pushed to
    * the parquet reader (row-group pruning at scale). */
  def logTimeRange(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .filter(col("ts_us") >= 1704844800000000L && col("ts_us") < 1705708800000000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** README.md:163-167 error analysis (status>=400 grouped) → the
    * events-table analog: error events grouped by actor. */
  def logErrors(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .filter(col("event_type") === "error")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(25)

  /** Hourly rollup — the dashboard query over an API-log table.
    * Truncation happens in the integer microsecond domain (floor to
    * 3600s), NOT date_trunc: date_trunc buckets depend on
    * spark.sql.session.timeZone, and a non-whole-hour zone offset
    * (e.g. +05:30) would silently shift every bucket under a caller's
    * session. Integer floor is zone-independent. */
  def logHourly(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(timestamp_micros(
        expr("(ts_us div 3600000000) * 3600000000")).as("hour"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("hour"))

  /** JSON property extraction from the free-form `props` column
    * (get_json_object is codegen'd; no UDF). */
  def logJson(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        Cols.asDouble(sum(Cols.money(col("value")))).as("total_value"))
      .orderBy(col("k_mod"))

  /** Top-3 most active users per event type (rank window). */
  def logTopkUsers(s: SparkSession, dir: String): DataFrame = {
    val counts = ev(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cnt").desc, col("user_id"))
    counts
      // long, matching the oracle engine's BIGINT row_number (the
      // type-strict gate compares result types, not just values)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy(col("event_type"), col("rnk"))
  }

  /** Sessionization: a 30-minute inactivity gap starts a new session
    * — built on the generic [[Sessionize.assign]] operator (per-user
    * lag + running-sum windows, shuffle keyed by the user, linear in
    * users), so this DuckDB-hash-checked query doubles as the oracle
    * gate for the general operator. */
  def logSessions(s: SparkSession, dir: String): DataFrame =
    Sessionize.assign(
        ev(s, dir).select(col("user_id"), col("event_id"), col("ts_us")),
        "user_id", "ts_us", gapUs = 1800L * 1000000L,
        tieBreak = Seq("event_id"))
      .groupBy(col("user_id"), col("session"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), max(col("n_events")).as("max_session_events"))
      .orderBy(col("user_id"))

  /** Signup→purchase conversion funnel via conditional aggregation
    * (one shuffle on user_id; no self-join). */
  def logFunnel(s: SparkSession, dir: String): DataFrame = {
    val us = col("ts_us")
    ev(s, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", us)).as("s_us"),
        min(when(col("event_type") === "purchase", us)).as("p_us"))
      .agg(
        count(when(col("s_us").isNotNull, lit(1))).as("n_signup_users"),
        count(when(col("s_us").isNotNull && col("p_us") > col("s_us"), lit(1)))
          .as("n_converted"))
  }

  /** As-of join: each purchase event paired with the same user's most
    * recent STRICTLY-prior click (null if none) — built on the generic
    * [[AsOf.asofJoin]] operator (single user-keyed shuffle +
    * carry-forward window, never an O(n²) inequality join), so this
    * DuckDB-hash-checked query doubles as the oracle gate for the
    * general operator. "Strictly prior" is defined in the integer µs
    * domain (RANGE frame to -1), so ties resolve identically in any
    * engine. */
  def logAsof(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"))
    AsOf.asofJoin(purchases, clicks, "user_id", "ts_us", "ts_us", strict = true)
      .select(col("user_id"), col("ts_us").as("purchase_ts_us"),
        col("r_ts_us").as("prev_click_ts_us"))
      .orderBy(col("user_id"), col("purchase_ts_us"))
  }

  /** Hour × event-type PIVOT: one row per hour, one count column per
    * type. The type list is explicit — at scale an unpinned pivot
    * launches an extra distinct-scan job to discover columns. */
  def logPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    ev(s, dir)
      .groupBy(timestamp_micros(
        expr("(ts_us div 3600000000) * 3600000000")).as("hour"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy(col("hour"))
  }

  /** Traffic-spike detection: hours whose event count exceeds 2× the
    * all-hours average. The comparison runs in the integer domain
    * (n·n_hours > 2·total) — no division, no float, engine-exact. */
  def logAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = ev(s, dir)
      .groupBy(timestamp_micros(
        expr("(ts_us div 3600000000) * 3600000000")).as("hour"))
      .agg(count(lit(1)).as("n"))
    // corpus-wide total/hour-count attach through ONE empty-partition
    // window over the HOURLY ROLLUP — a deliberate choice: the window
    // input is the already-reduced rollup (O(hours): a year ≈ 8.8k
    // rows on one task, bounded at any data scale), and the window
    // exec materializes its child ONCE. The "cleaner" broadcast-
    // aggregate attach re-derives the rollup in a second branch, i.e.
    // a SECOND full events scan — at 100 TB the scan dominates and
    // that shape loses. Bounded-input single-partition windows are
    // the exception that proves the rule; unbounded ones stay banned.
    hourly
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("n_hours", count(lit(1)).over(Window.partitionBy()))
      .filter(col("n") * col("n_hours") > col("total") * 2)
      .select(col("hour"), col("n"))
      .orderBy(col("hour"))
  }

  /** Dense hourly rollup: every hour between the corpus's min and max
    * gets a row, zero-filled where no events landed — the gap-filling
    * a dashboard needs. The hour spine is generated with sequence()
    * from the (2-row) min/max aggregate, so the explode is O(hours),
    * never O(events). */
  def logHourlyDense(s: SparkSession, dir: String): DataFrame = {
    val hourly = ev(s, dir)
      .groupBy(expr("(ts_us div 3600000000) * 3600000000").as("hour_us"))
      .agg(count(lit(1)).as("n"))
    val spine = ev(s, dir)
      .agg(min(expr("(ts_us div 3600000000) * 3600000000")).as("lo"),
        max(expr("(ts_us div 3600000000) * 3600000000")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(3600000000L))).as("hour_us"))
    spine.join(hourly, Seq("hour_us"), "left")
      .select(timestamp_micros(col("hour_us")).as("hour"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("hour"))
  }

  /** 24-hour moving SUM of hourly event counts. The frame is a time
    * RANGE on the integer hour key, not 24 ROWS — a rows frame over
    * the sparse rollup would silently span more than 24 wall-clock
    * hours across idle gaps. Integer-only (a moving AVERAGE would
    * divide). The unpartitioned window runs over the HOURLY ROLLUP
    * (≈10⁴ rows even for years of 100 TB logs), never the raw events,
    * so the single-partition sort is trivial. */
  def logMovingSum(s: SparkSession, dir: String): DataFrame = {
    // PARTITIONED moving window (the scale shape): week groups carry
    // the window's 23-hour lookback across their boundary as
    // DUPLICATED tail rows assigned to the next group — each group
    // computes its range window locally (a week ≥ the 24h window, so
    // the lookback never spans two boundaries), carry rows drop after.
    // A bare Window.orderBy would serialize the whole rollup through
    // one task; a year of hours is bounded, a 100 TB table's axis may
    // not be.
    val hourUs = 3600000000L
    val span = 7L * 24L * hourUs
    val look = 23L * hourUs
    val hourly = ev(s, dir)
      .groupBy(expr("(ts_us div 3600000000) * 3600000000").as("hour_us"))
      .agg(count(lit(1)).as("n"))
    // ONE pass generates own + carry assignments (a union of two
    // branches would re-derive the rollup — a second full events
    // scan): each row explodes to its own group, plus a carry copy
    // into the next group when it sits in that group's lookback
    val assigned = hourly.select(col("hour_us"), col("n"), explode(when(
        col("hour_us") % span >= span - look,
        array(struct(expr(s"hour_us div $span").as("grp"),
            lit(false).as("carry")),
          struct(expr(s"(hour_us div $span) + 1").as("grp"),
            lit(true).as("carry"))))
      .otherwise(array(struct(expr(s"hour_us div $span").as("grp"),
        lit(false).as("carry"))))).as("g"))
      .select(col("hour_us"), col("n"), col("g.grp"), col("g.carry"))
    val w = Window.partitionBy(col("grp")).orderBy(col("hour_us"))
      .rangeBetween(-look, Window.currentRow)
    assigned
      .withColumn("n_24h", sum(col("n")).over(w))
      .filter(!col("carry"))
      .select(timestamp_micros(col("hour_us")).as("hour"), col("n"), col("n_24h"))
      .orderBy(col("hour"))
  }

  /** Sketch-based top talkers: the 10 most active users via the
    * Misra-Gries HeavyHitters aggregator with a 64-counter state —
    * the query a 100 TB log table answers WITHOUT a counter per
    * distinct user (contrast log_topk_users, the exact window
    * formulation this is spec'd against). Bounded state rides the
    * map-side partial agg; the shuffle carries at most 64 counters
    * per partition. Approximate by contract → rows-only +
    * HeavyHittersSpec (retention, error bound, sub-capacity
    * exactness). */
  def logHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bound to a val so the TYPED Dataset.select overload resolves —
    // as a direct argument the expected DataFrame type makes scalac
    // pick the untyped select, which rejects TypedColumns at runtime
    val top = ev(s, dir).select(col("user_id").cast("string")).as[String]
      .select(new graft.functions.HeavyHitters(10, 64).toColumn)
    graft.functions.HeavyHitters.topToRows(top.toDF("top"))
  }

  /** DURATION-STRING analytics (reference-schema parity: the api-log
    * table's `requestTime` / `timeToFirstByte` are Go duration strings
    * — reference README.md:183-184): build deterministic duration
    * strings over the corpus ("412ms", "7.5s", "3m22s", "88us" — every
    * unit class and the compound form), parse them back to exact
    * microseconds with the codegen'd [[graft.functions.ParseDuration]]
    * expression, and aggregate latency stats per event type. The
    * oracle computes the same microsecond values arithmetically — so a
    * hash match proves the PARSER, digit for digit. */
  def logDurations(s: SparkSession, dir: String): DataFrame = {
    val k = (pmod(col("event_id"), lit(900)) + 1).cast("string")
    val sec = pmod(col("event_id"), lit(60)).cast("string")
    val m4 = pmod(col("event_id"), lit(4))
    val dur = when(m4 === 0, concat(k, lit("us")))
      .when(m4 === 1, concat(k, lit("ms")))
      .when(m4 === 2, concat(k, lit(".5s")))
      .otherwise(concat(k, lit("m"), sec, lit("s")))
    ev(s, dir)
      .select(col("event_type"),
        graft.functions.ParseDuration.parseDuration(dur).as("us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("us")).as("total_us"),
        min(col("us")).as("min_us"),
        max(col("us")).as("max_us"),
        expr("CAST(ROUND(percentile(us, 0.5D), 0) AS BIGINT)").as("p50_us"),
        expr("CAST(ROUND(percentile(us, 0.95D), 0) AS BIGINT)").as("p95_us"))
      .orderBy(col("event_type"))
  }

  /** COHORT RETENTION — the growth dashboard over an activity log:
    * users grouped by first-seen day, and for each (cohort day, day
    * offset ≤ 7) the distinct users still active. TWO shuffles total:
    * one per-user aggregation collects each user's distinct active-day
    * SET (map-side combined; bounded by the observation window, never
    * by event count), the cohort is the set's min — no separate
    * distinct pass, no cohort join, no re-shuffle. The exploded
    * (user, day) rows are unique by construction, so the final census
    * is a plain count. Day arithmetic stays in the integer µs domain —
    * no timezone-dependent date_trunc. */
  def logRetention(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("day")).as("days"))
      .select(array_min(col("days")).as("cohort_day"),
        explode(col("days")).as("day"))
      .withColumn("day_offset", col("day") - col("cohort_day"))
      .filter(col("day_offset") <= 7)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))

  /** EXACT latency percentiles per event type (p50/p95/p99) by the
    * NEAREST-RANK method: rank ⌈n·p/100⌉ in value order — pure
    * integer rank arithmetic picking a REAL value, so Spark and the
    * oracle agree bit-for-bit (interpolating percentile
    * implementations differ in ulps between engines and can't
    * hash-match). Scale-safe EXACT plan — no per-type sort task:
    *  1. CENSUS: groupBy (type, value) count — map-side combined,
    *     the shuffle carries distinct values, not rows;
    *  2. range-partition the census by (type, value) into B slices
    *     and pin slice ids (persist — range boundaries are sampled,
    *     so downstream passes must see ONE assignment);
    *  3. ONE tiny collect of per-(slice, type) subtotals (≤ B×types
    *     rows, the q_ntile k-row pattern) → driver-side exclusive
    *     prefix per type (slice offsets) and per-type totals (the
    *     target ranks);
    *  4. a cumulative window over (slice, type) — B-way parallel
    *     INSIDE each type — plus the broadcast offset gives every
    *     distinct value its global rank interval; the target rank's
    *     value is the row whose interval covers it.
    * The tie-break on event_id is unnecessary for the VALUE at a rank
    * (equal values are interchangeable), which is what lets the census
    * collapse rows. `q_approx_percentile` stays the sketch path. */
  def logLatencyPcts(s: SparkSession, dir: String): DataFrame =
    Pins.scope { pins =>
      // materialize the ≤ 3×types result NOW so the pinned census can be
      // released before returning (the q_ntile lifecycle)
      Pins.collected(logLatencyPctsPlanned(latencyCensus(pins, s, dir)))
    }

  /** Steps 1-2 of [[logLatencyPcts]]: the (type, value) count census,
    * range-sliced into `pid`s and pinned in `pins`. */
  private[graft] def latencyCensus(pins: Pins, s: SparkSession,
      dir: String, slicesOverride: Option[Int] = None): DataFrame = {
    // slice count is pure parallelism policy (the offset arithmetic is
    // exact for any slicing): session-derived so it tracks the cluster
    // instead of a frozen 32 (round-15's `weak`). Override is a spec
    // hook proving boundary-independence.
    val slices = slicesOverride.getOrElse(Tables.sliceCount(s))
    pins(ev(s, dir)
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .repartitionByRange(slices, col("event_type"), col("value"))
      .withColumn("pid", spark_partition_id()))
  }

  /** The distributed plan behind [[logLatencyPcts]] over a pinned
    * [[latencyCensus]], exposed un-collected so PlanContractSpec can
    * assert its shape (the public operator returns a
    * driver-materialized k-row frame). */
  private[graft] def logLatencyPctsPlanned(census: DataFrame): DataFrame = {
    val s = census.sparkSession
    import s.implicits._
    val subs = census.groupBy(col("pid"), col("event_type"))
      .agg(sum(col("cnt")).as("sub"))
      .collect().map(r => (r.getAs[Int]("pid"),
        r.getAs[String]("event_type"), r.getAs[Long]("sub")))
    val offsets = subs.sortBy(x => (x._2, x._1)).toList
      .foldLeft((Map.empty[String, Long], List.empty[(Int, String, Long)])) {
        case ((acc, out), (pid, et, sub)) =>
          val off = acc.getOrElse(et, 0L)
          (acc.updated(et, off + sub), (pid, et, off) :: out)
      }._2.toDF("pid", "event_type", "off")
    val targets = subs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toList
      .flatMap { case (et, n) =>
        Seq(50, 95, 99).map(p => (et, p, (n * p + 99) / 100)) }
      .toDF("event_type", "pct", "rk")
    val wCum = Window.partitionBy(col("pid"), col("event_type"))
      .orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .join(broadcast(offsets), Seq("pid", "event_type"))
      .withColumn("cum", col("off") + sum(col("cnt")).over(wCum))
      .join(broadcast(targets), Seq("event_type"))
      .filter(col("rk") > col("cum") - col("cnt") && col("rk") <= col("cum"))
      .select(col("event_type"), col("pct"), col("value").as("latency"))
      .orderBy(col("event_type"), col("pct"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "log_retention" -> (logRetention _),
    "log_latency_pcts" -> (logLatencyPcts _),
    "log_durations" -> (logDurations _),
    "log_heavy_hitters" -> (logHeavyHitters _),
    "log_asof" -> (logAsof _),
    "log_anomaly" -> (logAnomaly _),
    "log_hourly_dense" -> (logHourlyDense _),
    "log_moving_sum" -> (logMovingSum _),
    "log_pivot" -> (logPivot _),
    "log_count" -> (logCount _),
    "log_recent" -> (logRecent _),
    "log_by_type" -> (logByType _),
    "log_time_range" -> (logTimeRange _),
    "log_errors" -> (logErrors _),
    "log_hourly" -> (logHourly _),
    "log_json" -> (logJson _),
    "log_topk_users" -> (logTopkUsers _),
    "log_sessions" -> (logSessions _),
    "log_funnel" -> (logFunnel _),
  )

  val oracles: Map[String, String] = Map(
    "log_retention" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |c AS (
        |  SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  count(DISTINCT d.user_id) AS n_users
        |FROM d JOIN c USING (user_id)
        |WHERE day - cohort_day <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "log_latency_pcts" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |p AS (SELECT CAST(unnest([50, 95, 99]) AS INTEGER) AS pct)
        |SELECT event_type, pct, value AS latency
        |FROM r, p
        |WHERE rnk = (n * pct + 99) // 100
        |ORDER BY event_type, pct""".stripMargin,
    "log_durations" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CASE event_id % 4
        |      WHEN 0 THEN (event_id % 900 + 1)
        |      WHEN 1 THEN (event_id % 900 + 1) * 1000
        |      WHEN 2 THEN (event_id % 900 + 1) * 1000000 + 500000
        |      ELSE (event_id % 900 + 1) * 60000000 + (event_id % 60) * 1000000
        |    END AS us
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(us) AS BIGINT) AS total_us,
        |  min(us) AS min_us, max(us) AS max_us,
        |  CAST(ROUND(quantile_cont(us, 0.5), 0) AS BIGINT) AS p50_us,
        |  CAST(ROUND(quantile_cont(us, 0.95), 0) AS BIGINT) AS p95_us
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "log_count" -> "SELECT count(*) AS n FROM events",
    "log_recent" ->
      """SELECT event_id, event_type, user_id, epoch_us(ts) AS ts_us
        |FROM events ORDER BY ts_us DESC, event_id LIMIT 20""".stripMargin,
    "log_by_type" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin,
    "log_time_range" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "log_errors" ->
      """SELECT user_id, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type = 'error'
        |GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 25""".stripMargin,
    "log_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY hour ORDER BY hour""".stripMargin,
    "log_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY k_mod ORDER BY k_mod""".stripMargin,
    "log_topk_users" ->
      """WITH counts AS (
        |  SELECT event_type, user_id, count(*) AS cnt FROM events
        |  GROUP BY event_type, user_id),
        |ranked AS (
        |  SELECT event_type, user_id, cnt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rnk
        |  FROM counts)
        |SELECT event_type, user_id, cnt, rnk FROM ranked
        |WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin,
    "log_sessions" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sessions AS (
        |  SELECT user_id, event_id, ts_us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM flagged),
        |per_sess AS (
        |  SELECT user_id, sess, count(*) AS n_events FROM sessions GROUP BY user_id, sess)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
        |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    "log_funnel" ->
      """WITH per_user AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY user_id)
        |SELECT count(*) FILTER (WHERE s_us IS NOT NULL) AS n_signup_users,
        |  count(*) FILTER (WHERE s_us IS NOT NULL AND p_us > s_us) AS n_converted
        |FROM per_user""".stripMargin,
    "log_asof" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type,
        |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_ts
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts_us, event_type,
        |    max(click_ts) OVER (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts_us
        |  FROM e)
        |SELECT user_id, ts_us AS purchase_ts_us, prev_click_ts_us
        |FROM m WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_ts_us""".stripMargin,
    "log_anomaly" ->
      """WITH h AS (
        |  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hour,
        |    count(*) AS n
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT hour, n, sum(n) OVER () AS total, count(*) OVER () AS n_hours FROM h)
        |SELECT hour, n FROM g
        |WHERE n * n_hours > total * 2
        |ORDER BY hour""".stripMargin,
    "log_hourly_dense" ->
      """WITH h AS (
        |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us, count(*) AS n
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT min(hour_us) AS lo, max(hour_us) AS hi FROM h),
        |s AS (
        |  SELECT unnest(range(lo, hi + 1, 3600000000)) AS hour_us FROM b)
        |SELECT make_timestamp(s.hour_us) AS hour, coalesce(h.n, 0) AS n
        |FROM s LEFT JOIN h USING (hour_us) ORDER BY hour""".stripMargin,
    "log_moving_sum" ->
      """WITH h AS (
        |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us, count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT make_timestamp(hour_us) AS hour, n,
        |  CAST(sum(n) OVER (ORDER BY hour_us
        |    RANGE BETWEEN 82800000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_24h
        |FROM h ORDER BY hour""".stripMargin,
    "log_pivot" ->
      """SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hour,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS "view"
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
