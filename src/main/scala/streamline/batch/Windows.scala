package streamline.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import streamline.{Q, Tables}
import streamline.util.Det._

/** §2.5 analytic (OVER) windows — the Flink 1.x Table API over-aggregate
  * surface (rows/range frames, keyed ordering; SURVEY.md §2.5).
  *
  * Scale posture: every window partitions on a real key (nation, custkey,
  * user) so execution is one hash shuffle + per-partition sort; no window
  * here is a single global partition, which would serialize on one task
  * at 100 TB. Running sums use exact DECIMAL so frame-accumulation order
  * can't produce engine-dependent low bits (SURVEY §2.12.2).
  */
object Windows {

  /** q_win_rank — row_number/rank/dense_rank. row_number gets a total
    * tiebreak; rank/dense_rank are value-deterministic under ties. */
  private def winRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wFull = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc_nulls_last, $"c_custkey".asc)
    val wVal = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc_nulls_last)
    Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_custkey", $"c_acctbal",
        row_number().over(wFull).as("rn"),
        rank().over(wVal).as("rnk"),
        dense_rank().over(wVal).as("drnk"))
      .orderBy($"c_nationkey", $"rn")
  }

  private val winRankSql = """
    SELECT c_nationkey, c_custkey, c_acctbal,
      row_number() OVER (PARTITION BY c_nationkey
        ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC) AS rn,
      rank() OVER (PARTITION BY c_nationkey
        ORDER BY c_acctbal DESC NULLS LAST) AS rnk,
      dense_rank() OVER (PARTITION BY c_nationkey
        ORDER BY c_acctbal DESC NULLS LAST) AS drnk
    FROM customer ORDER BY c_nationkey, rn"""

  /** q_win_running — ROWS UNBOUNDED PRECEDING running aggregate, exact
    * DECIMAL accumulation. */
  private def winRunning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey", tsOut($"o_orderdate").as("o_orderdate"),
        asDouble(sum(dec("o_totalprice")).over(w)).as("running_total"),
        count(lit(1)).over(w).as("running_n"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val winRunningSql = """
    SELECT o_custkey, o_orderkey, o_orderdate,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS running_total,
      count(*) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM orders ORDER BY o_custkey, o_orderkey"""

  /** q_win_range — RANGE (value-based) frame: count of same-status orders
    * within 1000 below the current total price. Value-based frames are
    * tie-insensitive, so no row tiebreak is needed for the frame itself.
    */
  private def winRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderstatus").orderBy($"o_totalprice".asc)
      .rangeBetween(-1000L, 0L)
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        count(lit(1)).over(w).as("n_in_range"),
        asDouble(sum(dec("o_totalprice")).over(w)).as("sum_in_range"))
      .orderBy($"o_orderkey")
  }

  private val winRangeSql = """
    SELECT o_orderkey, o_orderstatus, o_totalprice,
      count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC
        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_in_range,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        PARTITION BY o_orderstatus ORDER BY o_totalprice ASC
        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS sum_in_range
    FROM orders ORDER BY o_orderkey"""

  /** q_win_time_range — time-interval RANGE frame (the reference
    * lineage's `OVER ... RANGE INTERVAL '1' HOUR PRECEDING`, Flink SQL
    * bounded event-time OVER): per user, the trailing-hour event count
    * and value sum at every event. Spark's rangeBetween takes numeric
    * offsets, so the order key is the second-truncated epoch and the
    * frame is [-3600, 0] — identical to the oracle's
    * INTERVAL 1 HOUR PRECEDING over the truncated timestamp.
    * Value-based frames are tie-insensitive: same-second events share
    * a frame in both engines, no row tiebreak needed. Scale: one
    * shuffle on user_id + a local sort — the running-frame aggregate
    * is O(events) with a sliding two-pointer, not O(events × frame). */
  private def winTimeRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sec = date_trunc("second", $"ts")
    val w = Window.partitionBy($"user_id")
      .orderBy(unix_timestamp(sec).asc)
      .rangeBetween(-3600L, 0L)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", tsOut(sec).as("ts_sec"),
        $"value",
        count(lit(1)).over(w).as("n_1h"),
        asDouble(sum(dec("value")).over(w)).as("sum_1h"))
      .orderBy($"user_id", $"event_id")
  }

  private val winTimeRangeSql = """
    WITH e AS (SELECT user_id, event_id, value,
                      date_trunc('second', ts) AS ts_sec FROM events)
    SELECT user_id, event_id, ts_sec, value,
      count(*) OVER w AS n_1h,
      CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id"""

  /** q_win_lag — lag/lead over event time per user. `events.ts` is ns in
    * parquet, µs in Spark: both engines order and compute on
    * second-truncated time so sort keys are identical (SURVEY §7.3.4). */
  private def winLag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sec = date_trunc("second", $"ts")
    val w = Window.partitionBy($"user_id").orderBy(sec.asc, $"event_id".asc)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", tsOut(sec).as("ts_sec"),
        tsOut(lag(sec, 1).over(w)).as("prev_ts"),
        tsOut(lead(sec, 1).over(w)).as("next_ts"),
        (unix_timestamp(sec) - unix_timestamp(lag(sec, 1).over(w)))
          .as("gap_s"))
      .orderBy($"user_id", $"event_id")
  }

  private val winLagSql = """
    WITH e AS (SELECT user_id, event_id,
                      date_trunc('second', ts) AS ts_sec FROM events)
    SELECT user_id, event_id, ts_sec,
      lag(ts_sec, 1) OVER w AS prev_ts,
      lead(ts_sec, 1) OVER w AS next_ts,
      date_diff('second', lag(ts_sec, 1) OVER w, ts_sec) AS gap_s
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)
    ORDER BY user_id, event_id"""

  /** q_win_ntile_first — ntile + first/last value with explicit full
    * frame. */
  private def winNtileFirst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".asc, $"c_custkey".asc)
    val wFrame = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_custkey", $"c_acctbal",
        ntile(4).over(w).as("tile"),
        first($"c_name").over(wFrame).as("poorest"),
        last($"c_name").over(wFrame).as("richest"))
      .orderBy($"c_nationkey", $"c_custkey")
  }

  private val winNtileFirstSql = """
    SELECT c_nationkey, c_custkey, c_acctbal,
      ntile(4) OVER w AS tile,
      first_value(c_name) OVER wf AS poorest,
      last_value(c_name) OVER wf AS richest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal ASC, c_custkey ASC),
           wf AS (PARTITION BY c_nationkey
                  ORDER BY c_acctbal ASC, c_custkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY c_nationkey, c_custkey"""

  /** q_topk — top-k per group via rank-and-filter (Flink's batch top-k
    * idiom). Spark 4 rewrites rn<=k into a per-partition limit
    * (WindowGroupLimit) — no full sort of each group at scale. */
  private def topk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc_nulls_last, $"c_custkey".asc)
    Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_custkey", $"c_name", $"c_acctbal",
        row_number().over(w).as("rn"))
      .where($"rn" <= 3)
      .orderBy($"c_nationkey", $"rn")
  }

  private val topkSql = """
    SELECT * FROM (
      SELECT c_nationkey, c_custkey, c_name, c_acctbal,
        row_number() OVER (PARTITION BY c_nationkey
          ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC) AS rn
      FROM customer)
    WHERE rn <= 3 ORDER BY c_nationkey, rn"""

  /** q_win_dist — distribution window functions: percent_rank and
    * cume_dist over a totally ordered per-nation frame. Emitted as RAW
    * doubles: both engines compute the same integer ratio (k/n) with one
    * IEEE division, so the bits match exactly — while rounding to 6 dp
    * actually INTRODUCED a divergence (a ratio landing on the 5e-7
    * half-boundary rounds HALF_UP in Spark but to-even on the binary
    * double in DuckDB; found at sf0.1, r2). */
  private def winDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".asc, $"c_custkey".asc)
    Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_custkey",
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy($"c_nationkey", $"c_custkey")
  }

  private val winDistSql = """
    SELECT c_nationkey, c_custkey,
      percent_rank() OVER w AS pr,
      cume_dist() OVER w AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal ASC, c_custkey ASC)
    ORDER BY c_nationkey, c_custkey"""

  /** q_cep_pattern — event-pattern detection (the Flink CEP library,
    * 1.x-era: `Pattern.begin("click").next("purchase").within(10 min)`):
    * strict contiguity — a purchase IMMEDIATELY following a click by the
    * same user, at most 10 minutes later. Fixed-length contiguous
    * patterns are exactly a per-key ordered window + lag (the relational
    * form of the CEP NFA); unbounded patterns would use keyed state like
    * q_stream_count_window. One shuffle on user_id, linear. */
  private def cepPattern(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts",
        lag("event_type", 1).over(w).as("prev_type"),
        lag("event_id", 1).over(w).as("prev_id"),
        lag("ts", 1).over(w).as("prev_ts"))
      .where($"event_type" === "purchase" && $"prev_type" === "click" &&
        $"ts" <= $"prev_ts" + expr("INTERVAL 10 MINUTES"))
      .select($"user_id", $"prev_id".as("click_id"),
        $"event_id".as("purchase_id"),
        tsSec($"prev_ts").as("click_ts"), tsSec($"ts").as("purchase_ts"))
      .orderBy($"user_id", $"purchase_id")
  }

  private val cepPatternSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
    o AS (SELECT user_id, event_id, event_type, ts,
            lag(event_type) OVER w AS prev_type,
            lag(event_id) OVER w AS prev_id,
            lag(ts) OVER w AS prev_ts
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, prev_id AS click_id, event_id AS purchase_id,
      date_trunc('second', prev_ts) AS click_ts,
      date_trunc('second', ts) AS purchase_ts
    FROM o
    WHERE event_type = 'purchase' AND prev_type = 'click'
      AND ts <= prev_ts + INTERVAL 10 MINUTE
    ORDER BY user_id, purchase_id"""

  /** q_win_session — session windows in BATCH mode (the Table API's
    * Session group-window over a bounded input — the hybrid-engine
    * counterpart of q_stream_session, which runs the identical gap
    * semantics incrementally with watermark state). Spark's native
    * `session_window` in a batch groupBy: per user, events within a
    * 30-minute gap merge into one session [first, last+gap).
    *
    * Scale posture: one hash shuffle on user_id, then per-partition
    * sort-merge of per-event windows — session assembly never sees a
    * global sort, and a user's events co-locate regardless of data
    * size. Second-truncated like the streaming twin (events.ts is ns
    * in the fixture; both engines compare at whole seconds). */
  private def winSession(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("tss", date_trunc("second", $"ts"))
      .groupBy(session_window($"tss", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"), dsum("value").as("sum_val"))
      .select($"user_id", tsOut($"sw.start").as("s_start"),
        tsOut($"sw.end").as("s_end"), $"n", $"sum_val")
      .orderBy($"user_id", $"s_start")
  }

  // Oracle: gaps-and-islands — a session break where the gap from the
  // previous event (same user) exceeds 30 min; window end = last+gap.
  // Same spelling as the streaming twin minus the watermark HAVING.
  private[streamline] val winSessionSql = """
    WITH e AS (SELECT user_id, date_trunc('second', ts) AS t, value
               FROM events),
    o AS (SELECT user_id, t, value,
            CASE WHEN lag(t) OVER w IS NULL
                   OR t - lag(t) OVER w > INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
    s AS (SELECT user_id, t, value,
            sum(brk) OVER (PARTITION BY user_id ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM o)
    SELECT user_id, min(t) AS s_start,
      max(t) + INTERVAL 30 MINUTE AS s_end, count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, s_start"""

  /** q_win_session_dynamic — DYNAMIC session gap (Flink's
    * `SessionWindowTimeGapExtractor`): the merge gap is a per-event
    * expression — purchases keep a session alive for 1 h, everything
    * else 15 min. Spark's `session_window(ts, gapExpr)` gives each
    * event the interval [ts, ts+gap) and merges overlaps, so a session
    * breaks exactly where an event's start passes the running max of
    * previous interval ends (boundary-touch MERGES — same inclusive
    * semantics the fixed-gap streaming oracle pins with its strict `>`
    * gap test). Same one-shuffle shape as the fixed-gap form. The
    * oracle spells that interval-union directly: brk ⟺ ts > max over
    * previous (ts+gap), sid = running brk sum, session end = max
    * (ts+gap) within the session. */
  private def winSessionDynamic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // session_window's dynamic gap must be CalendarIntervalType —
    // make_interval, not an ANSI day-time interval literal.
    val gap = when($"event_type" === "purchase",
        expr("make_interval(0, 0, 0, 0, 1, 0, 0)"))
      .otherwise(expr("make_interval(0, 0, 0, 0, 0, 15, 0)"))
    Tables.events(spark, dir)
      .withColumn("tss", date_trunc("second", $"ts"))
      .groupBy(session_window($"tss", gap).as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"), dsum("value").as("sum_val"))
      .select($"user_id", tsOut($"sw.start").as("s_start"),
        tsOut($"sw.end").as("s_end"), $"n", $"sum_val")
      .orderBy($"user_id", $"s_start")
  }

  private val winSessionDynamicSql = """
    WITH e AS (SELECT user_id, date_trunc('second', ts) AS t, value,
                 date_trunc('second', ts)
                   + CASE WHEN event_type = 'purchase'
                          THEN INTERVAL 1 HOUR
                          ELSE INTERVAL 15 MINUTE END AS fin
               FROM events),
    o AS (SELECT user_id, t, value, fin,
            CASE WHEN max(fin) OVER (PARTITION BY user_id ORDER BY t, fin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
                   OR t > max(fin) OVER (PARTITION BY user_id
                     ORDER BY t, fin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 THEN 1 ELSE 0 END AS brk
          FROM e),
    s AS (SELECT user_id, t, value, fin,
            sum(brk) OVER (PARTITION BY user_id ORDER BY t, fin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM o)
    SELECT user_id, min(t) AS s_start, max(fin) AS s_end,
      count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, s_start"""

  /** q_win_fill — forward-fill (last observation carried forward): the
    * time-series gap-fill every feature pipeline needs. `error` events
    * are treated as missing readings (deterministic NULL injection);
    * `last_value IGNORE NULLS` over the per-user event-time order
    * carries the previous good reading forward. One shuffle on user_id
    * + a local sort; the running IGNORE-NULLS frame is O(events). Users
    * whose first readings are missing stay NULL — pinned by the oracle
    * rather than coalesced away. */
  private def winFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sec = date_trunc("second", $"ts")
    val v = when($"event_type" === "error", lit(null).cast("double"))
      .otherwise($"value")
    val w = Window.partitionBy($"user_id")
      .orderBy(sec.asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", tsOut(sec).as("ts_sec"),
        v.as("reading"),
        last(v, ignoreNulls = true).over(w).as("filled"))
      .orderBy($"user_id", $"event_id")
  }

  private val winFillSql = """
    WITH e AS (SELECT user_id, event_id,
                 date_trunc('second', ts) AS ts_sec,
                 CASE WHEN event_type = 'error' THEN NULL
                      ELSE value END AS reading
               FROM events)
    SELECT user_id, event_id, ts_sec, reading,
      last_value(reading IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM e ORDER BY user_id, event_id"""

  /** q_win_sliding — bounded two-sided ROWS frame (2 PRECEDING .. 2
    * FOLLOWING): the centered moving aggregate of smoothing /
    * neighborhood features, completing the frame-type matrix next to
    * the running (UNBOUNDED PRECEDING), RANGE and time-RANGE frames.
    * One shuffle on the partition key + a local sort; the frame slides
    * with two pointers, O(1) state — the total (date, orderkey) order
    * makes every frame's membership deterministic. Exact DECIMAL sum
    * inside the frame, double on output. */
  private def winSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(-2, 2)
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        asDouble(sum(dec("o_totalprice")).over(w)).as("win_sum"),
        count(lit(1)).over(w).as("win_n"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  private val winSlidingSql = """
    SELECT o_custkey, o_orderkey,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
        AS win_sum,
      count(*) OVER w AS win_n
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
    ORDER BY o_custkey, o_orderkey"""

  /** q_win_nth — positional window access: `nth_value` over the full
    * partition frame plus offset `lag`/`lead` WITH DEFAULTS,
    * completing the navigation-function surface next to q_win_lag's
    * adjacent-row pair. nth_value needs the explicit two-sided
    * unbounded frame — under the default running frame the "2nd value"
    * is invisible until row 2, which is a correctness trap, not a
    * tuning detail. Short partitions yield NULL (nth) / the default
    * (lag,lead) identically in both engines. */
  private def winNth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    val wf = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_custkey",
        nth_value($"c_custkey", 2).over(wf).as("second_richest"),
        lag($"c_custkey", 2, -1L).over(w).as("lag2"),
        lead($"c_custkey", 3, -1L).over(w).as("lead3"))
      .orderBy($"c_nationkey", $"c_custkey")
  }

  private val winNthSql = """
    SELECT c_nationkey, c_custkey,
      nth_value(c_custkey, 2) OVER wf AS second_richest,
      lag(c_custkey, 2, CAST(-1 AS BIGINT)) OVER w AS lag2,
      lead(c_custkey, 3, CAST(-1 AS BIGINT)) OVER w AS lead3
    FROM customer
    WINDOW
      w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
      wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY c_nationkey, c_custkey"""

  /** q_win_distinct_sliding — DISTINCT counts over a sliding range
    * frame (trailing-7-day distinct users per event type, plus the
    * per-day count): the rolling-reach metric. Spark has no DISTINCT
    * window aggregates, so the spelling is compositional: per-day
    * distinct user SETS first (one keyed aggregate — the corpus-sized
    * pass), then a days-keyed range frame whose collect_list of
    * day-sets is flattened and deduplicated per frame — the window
    * runs over the DAY table (tiny), never over raw events. At true
    * 100 TB reach cardinalities the per-day sets become sketches
    * (q_agg_sketch_theta / q_agg_freq_items) with the same two-level
    * shape; this operator is the exact form. Day numbering uses
    * explicit floor() on an IEEE-identical division in both engines
    * (the r9-ADVICE floor-vs-truncate discipline). */
  private def winDistinctSliding(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .select($"event_type",
        floor(unix_micros($"ts").cast("double") / lit(86400000000.0))
          .cast("long").as("day"),
        $"user_id")
      .groupBy($"event_type", $"day")
      .agg(collect_set($"user_id").as("us"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rangeBetween(-6, 0)
    daily.select($"event_type", $"day",
        size($"us").cast("long").as("users_1d"),
        size(array_distinct(flatten(collect_list($"us").over(w))))
          .cast("long").as("users_7d"))
      .orderBy($"event_type", $"day")
  }

  private val winDistinctSlidingSql = """
    WITH d AS (SELECT DISTINCT event_type,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          AS BIGINT) AS day,
        user_id
      FROM events),
    days AS (SELECT DISTINCT event_type, day FROM d)
    SELECT a.event_type, a.day,
      count(DISTINCT CASE WHEN b.day = a.day THEN b.user_id END)
        AS users_1d,
      count(DISTINCT b.user_id) AS users_7d
    FROM days a JOIN d b ON b.event_type = a.event_type
      AND b.day BETWEEN a.day - 6 AND a.day
    GROUP BY a.event_type, a.day
    ORDER BY a.event_type, a.day"""

  /** q_win_resample — calendar resampling: densify each user's event
    * history onto a daily spine (their own min..max day) and carry the
    * last observed reading forward across the GENERATED gap days —
    * the missing-row half of time-series gap-fill that q_win_fill
    * (which only fills nulls on EXISTING rows) cannot express. Per
    * day the last reading is max_by over (ts, event_id) — a total tie
    * order. Scale: daily downsample + per-user bounds are keyed
    * map-side-combined aggregates; the spine is sequence+explode on
    * the user key (rows = Σ user day-spans, generated distributed,
    * never on the driver); the ffill window orders the tiny day table
    * per user. Day numbering floor()s an IEEE-identical division (r9
    * floor discipline). */
  private def winResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val day = floor(unix_micros($"ts").cast("double") / lit(86400000000.0))
      .cast("long")
    val e = Tables.events(spark, dir)
      .select($"user_id", day.as("day"), $"ts", $"event_id", $"value")
    val daily = e.groupBy($"user_id", $"day")
      .agg(max_by($"value", struct($"ts", $"event_id")).as("day_last"),
        count(lit(1)).as("n_events"))
    val spine = e.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
    val w = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left_outer")
      .select($"user_id", $"day",
        coalesce($"n_events", lit(0L)).as("n_events"),
        last($"day_last", ignoreNulls = true).over(w).as("filled"))
      .orderBy($"user_id", $"day")
  }

  private val winResampleSql = """
    WITH e AS (SELECT user_id,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          AS BIGINT) AS day,
        ts, event_id, value
      FROM events),
    dl AS (SELECT user_id, day, value,
        row_number() OVER (PARTITION BY user_id, day
          ORDER BY ts DESC, event_id DESC) AS rn,
        count(*) OVER (PARTITION BY user_id, day) AS n_events
      FROM e),
    daily AS (SELECT user_id, day, value AS day_last, n_events
              FROM dl WHERE rn = 1),
    bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1
               FROM e GROUP BY user_id),
    spine AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day
              FROM bounds),
    j AS (SELECT s.user_id, s.day,
            coalesce(d.n_events, 0) AS n_events, d.day_last
          FROM spine s LEFT JOIN daily d
            ON s.user_id = d.user_id AND s.day = d.day)
    SELECT user_id, day, n_events,
      last_value(day_last IGNORE NULLS) OVER (PARTITION BY user_id
        ORDER BY day ROWS UNBOUNDED PRECEDING) AS filled
    FROM j ORDER BY user_id, day"""

  /** q_win_ema — exponential moving average per user (α = 0.2, seeded
    * with the first observation): the RECURSIVE per-key fold no OVER
    * frame can express (each output depends nonlinearly on the
    * previous one, not on a frame aggregate — the reason feature
    * pipelines drop to per-key folds for EMA/decay features). Spelling:
    * per user, events sorted by the (ts, event_id) total order into an
    * array, then one `aggregate` HOF whose lambda is the EMA
    * recurrence — a LEFT fold in array order, which is exactly
    * DuckDB's `list_reduce`, so both engines execute the identical
    * IEEE operation sequence and the result hash-matches WITHOUT
    * rounding. State bound: one user's history per group (the chunked/
    * streaming form is the q_stream_tws family); the sort is
    * per-group, never global. */
  private def winEma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seq0 = sort_array(collect_list(
      struct($"ts", $"event_id", $"value")))
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(seq0.as("seq"))
      .select($"user_id", size($"seq").cast("long").as("n_events"),
        aggregate($"seq",
          struct(lit(false).as("init"), lit(0.0d).as("ema")),
          (acc, x) => struct(lit(true).as("init"),
            when(acc("init"),
              lit(0.2d) * x("value") + lit(0.8d) * acc("ema"))
              .otherwise(x("value")).as("ema")),
          acc => acc("ema")).as("ema"))
      .orderBy($"user_id")
  }

  private val winEmaSql = """
    WITH s AS (SELECT user_id,
        list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id)
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
      list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc) AS ema
    FROM s ORDER BY user_id"""

  /** q_win_concurrency — sweep-line max-concurrency profile: per
    * event_type and day, the PEAK number of simultaneously-open
    * sessions (each event opens [ts, ts+5 min)) — the occupancy /
    * concurrent-users / capacity-planning staple no single window
    * frame expresses. Classic sweep: every interval contributes a +1
    * at its start and a −1 at its end, one keyed running INTEGER sum
    * ordered by (t, delta) gives the concurrency after each boundary
    * block, and a keyed max per day reads the peak. Determinism: the
    * default RANGE frame includes peers, so every row in a tied
    * (t, delta) block carries the block-END value — permutation of
    * tied rows cannot change anything; δ = −1 sorts before +1 at equal
    * t ⇒ half-open interval semantics (a session ending exactly when
    * another starts never overlaps it); all arithmetic is integer.
    * Peak is evaluated at event boundaries within the day (the
    * carry-in level at midnight is visible from the previous day's
    * tail — documented semantics, identical both engines). Scale: 2
    * rows per event through ONE keyed shuffle per event_type + a
    * map-side-combined day rollup; at 1000-executor scale the
    * per-type sort is the classic sweep-line partition. */
  private def winConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val d = ev.select($"event_type", $"ts".as("t"), lit(1).as("delta"))
      .unionAll(ev.select($"event_type",
        ($"ts" + expr("INTERVAL 5 MINUTES")).as("t"),
        lit(-1).as("delta")))
    val w = Window.partitionBy($"event_type").orderBy($"t", $"delta")
    d.withColumn("conc", sum($"delta").over(w))
      .groupBy($"event_type", tsOut(date_trunc("day", $"t")).as("day"))
      .agg(max($"conc").cast("long").as("peak"),
        count(lit(1)).as("n_bounds"))
      .orderBy($"event_type", $"day")
  }

  private val winConcurrencySql = """
    WITH d AS (
      SELECT event_type, ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL 5 MINUTE AS t, -1 AS delta
      FROM events),
    c AS (SELECT event_type, t, delta,
            CAST(sum(delta) OVER (PARTITION BY event_type
              ORDER BY t, delta) AS BIGINT) AS conc
          FROM d)
    SELECT event_type, CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
      max(conc) AS peak, CAST(count(*) AS BIGINT) AS n_bounds
    FROM c GROUP BY 1, 2 ORDER BY event_type, day"""

  /** q_win_streak — longest consecutive-day activity streak per user:
    * the gaps-and-islands idiom (engagement / retention staple — "N-day
    * streak" badges, churn features). Island key = day_index −
    * row_number() over the user's DISTINCT active days: consecutive
    * days share it, any gap shifts it — no recursion, no self-join.
    * Output per user: longest streak, total active days, number of
    * islands. All-integer arithmetic, hash-exact by construction.
    * Scale: one distinct over (user, day) (map-side combined — the
    * dedup collapses the corpus to ≤ users×days rows), one user-keyed
    * window, two keyed rollups; no global window, no shuffle beyond
    * the user hash. */
  private def winStreak(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
    Tables.events(spark, dir)
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("day"))
      .distinct()
      // epoch anchor is arbitrary: only DIFFERENCES of the island key
      // matter, and datediff is exact integer day arithmetic
      .withColumn("grp",
        datediff($"day", lit("2020-01-01")).cast("long")
          - row_number().over(w))
      .groupBy($"user_id", $"grp").agg(count(lit(1)).as("len"))
      .groupBy($"user_id").agg(max($"len").as("max_streak"),
        sum($"len").as("active_days"), count(lit(1)).as("n_streaks"))
      .orderBy($"user_id")
  }

  private val winStreakSql = """
    WITH d AS (SELECT DISTINCT user_id,
                 CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
    i AS (SELECT user_id, day,
            CAST(date_diff('day', DATE '2020-01-01', day) AS BIGINT)
              - row_number() OVER (PARTITION BY user_id ORDER BY day)
              AS grp
          FROM d),
    s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
          FROM i GROUP BY 1, 2)
    SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak,
      CAST(sum(len) AS BIGINT) AS active_days,
      CAST(count(*) AS BIGINT) AS n_streaks
    FROM s GROUP BY 1 ORDER BY user_id"""

  /** q_win_drawdown — maximum drawdown of a keyed cumulative series
    * (the risk/monitoring staple: how far below its running peak has
    * the series fallen). Series = per event_type the DAILY signed
    * balance between the two user arms (count(arm 0) − count(arm 1)) —
    * a genuine integer random walk, so the whole pipeline (daily
    * delta, running sum, running max, peak − cum) stays BIGINT: exact
    * on any engine, no float accumulation story at all (the
    * q_win_cusum double-cumsum lesson applied by construction).
    * Output per key: max drawdown, final peak, days, #days at peak.
    * Scale: the corpus passes ONE map-side-combined daily count; both
    * windows and the rollup run on the types×days table (bounded —
    * days grow with time, not data volume). The per-type window
    * serialization is over that tiny table, never the corpus. */
  private def winDrawdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val day = Tables.events(spark, dir)
      .groupBy($"event_type", to_date(date_trunc("day", $"ts")).as("day"))
      .agg((count(when($"user_id" % 2 === 0, 1))
        - count(when($"user_id" % 2 === 1, 1))).as("delta"))
    val byDay = Window.partitionBy($"event_type").orderBy($"day")
    day.withColumn("cum", sum($"delta").over(byDay))
      .withColumn("peak", max($"cum").over(byDay))
      .groupBy($"event_type").agg(
        max($"peak" - $"cum").as("max_drawdown"),
        max($"peak").as("peak"),
        count(lit(1)).as("n_days"),
        sum(when($"cum" === $"peak", 1L).otherwise(0L)).as("n_at_peak"))
      .orderBy($"event_type")
  }

  private val winDrawdownSql = """
    WITH day AS (SELECT event_type,
            CAST(date_trunc('day', ts) AS DATE) AS day,
            CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT)
              - CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT)
              AS delta
          FROM events GROUP BY 1, 2),
    c AS (SELECT event_type, day, delta,
            CAST(sum(delta) OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS cum
          FROM day),
    p AS (SELECT event_type, day, cum,
            CAST(max(cum) OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS peak
          FROM c)
    SELECT event_type, CAST(max(peak - cum) AS BIGINT) AS max_drawdown,
      CAST(max(peak) AS BIGINT) AS peak,
      CAST(count(*) AS BIGINT) AS n_days,
      CAST(sum(CASE WHEN cum = peak THEN 1 ELSE 0 END) AS BIGINT)
        AS n_at_peak
    FROM p GROUP BY 1 ORDER BY event_type"""

  /** q_win_ohlc — OHLC candle resampling: per (event_type, day) the
    * opening, highest, lowest and closing reading plus the tick count
    * — the canonical series-to-candles downsample (finance bars;
    * equally the metric-rollup shape of any monitoring store).
    * Exactness: values scaled to integer 1e-4 units; open/close are
    * rank selections on the total (µs, event_id) order — not
    * arg_min/arg_max on a bare timestamp, which ties would make
    * engine-dependent; close reuses rn = n (count over the same
    * partition) so the window needs ONE sort, not an asc and a desc.
    * Scale: one (type, day)-keyed shuffle + sort, then a
    * map-side-combined rollup on the identical key — no second
    * shuffle (the aggregation is partitioning-compatible). */
  private def winOhlc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byCandle = Window.partitionBy($"event_type", $"day")
    val e = Tables.events(spark, dir)
      .select($"event_type",
        floor(unix_micros($"ts").cast("double") / lit(86400000000.0))
          .cast("long").as("day"),
        unix_micros($"ts").as("us"), $"event_id",
        round($"value" * 10000).cast("bigint").as("v"))
    val r = e.select($"event_type", $"day", $"v",
      row_number().over(byCandle.orderBy($"us".asc, $"event_id".asc))
        .as("rn"),
      count(lit(1)).over(byCandle).as("n"))
    r.groupBy($"event_type", $"day")
      .agg(max($"n").as("n"),
        max(when($"rn" === 1, $"v")).as("open"),
        max($"v").as("high"), min($"v").as("low"),
        max(when($"rn" === $"n", $"v")).as("close"))
      .orderBy($"event_type", $"day")
  }

  private val winOhlcSql = """
    WITH e AS (SELECT event_type,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          AS BIGINT) AS day,
        epoch_us(date_trunc('microseconds', ts)) AS us, event_id,
        CAST(round(value * 10000) AS BIGINT) AS v
      FROM events),
    r AS (SELECT event_type, day, v,
        row_number() OVER (PARTITION BY event_type, day
          ORDER BY us, event_id) AS rn,
        CAST(count(*) OVER (PARTITION BY event_type, day) AS BIGINT) AS n
      FROM e)
    SELECT event_type, day, CAST(max(n) AS BIGINT) AS n,
      CAST(max(CASE WHEN rn = 1 THEN v END) AS BIGINT) AS open,
      CAST(max(v) AS BIGINT) AS high, CAST(min(v) AS BIGINT) AS low,
      CAST(max(CASE WHEN rn = n THEN v END) AS BIGINT) AS close
    FROM r GROUP BY 1, 2 ORDER BY 1, 2"""

  /** q_win_twap — time-weighted average per (event_type, day): each
    * reading holds until the next one, so its weight is the integer
    * microsecond span to the successor (the finance TWAP; equally the
    * duty-cycle-correct mean of any sampled gauge, where the plain
    * mean over-weights bursts). Exactness: values in integer 1e-4
    * units, weights integer µs from a lead() over the total (µs,
    * event_id) order, zero-length segments (ties and each day's last
    * reading) dropped IDENTICALLY on both engines, the weighted mean
    * one [[Aggregates.exactRound6]] with v·dt products carried in
    * DECIMAL(38)/HUGEINT (a day of µs × scaled values is ~10¹⁷ —
    * near the long cliff, so the carry is explicit); negative
    * readings are safe — exactRound6 sign-splits, so Σv·dt < 0
    * rounds half-away-from-zero identically on both engines
    * (ADVICE r15). Scale: one
    * (type, day)-keyed shuffle + sort; lead and the day-end max share
    * the partition; rollup is partitioning-compatible. */
  private def winTwap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byCandle = Window.partitionBy($"event_type", $"day")
    val ord = byCandle.orderBy($"us".asc, $"event_id".asc)
    val e = Tables.events(spark, dir)
      .select($"event_type",
        floor(unix_micros($"ts").cast("double") / lit(86400000000.0))
          .cast("long").as("day"),
        unix_micros($"ts").as("us"), $"event_id",
        round($"value" * 10000).cast("bigint").as("v"))
    val seg = e.select($"event_type", $"day", $"v",
        (coalesce(lead($"us", 1).over(ord), max($"us").over(byCandle))
          - $"us").as("dt"))
      .where($"dt" > 0)
    seg.groupBy($"event_type", $"day")
      .agg(sum($"v".cast("decimal(20,0)") * $"dt").as("num"),
        sum($"dt").as("den"), count(lit(1)).as("n"))
      .select($"event_type", $"day", $"n", $"den".as("span_us"),
        Aggregates.exactRound6($"num", $"den").as("twap"))
      .orderBy($"event_type", $"day")
  }

  private val winTwapSql = """
    WITH e AS (SELECT event_type,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          AS BIGINT) AS day,
        epoch_us(date_trunc('microseconds', ts)) AS us, event_id,
        CAST(round(value * 10000) AS BIGINT) AS v
      FROM events),
    w AS (SELECT event_type, day, v, us,
        lead(us) OVER (PARTITION BY event_type, day
          ORDER BY us, event_id) AS next_us,
        CAST(max(us) OVER (PARTITION BY event_type, day)
          AS BIGINT) AS day_end
      FROM e),
    seg AS (SELECT event_type, day, v,
        coalesce(next_us, day_end) - us AS dt
      FROM w),
    a AS (SELECT event_type, day,
        sum(v::HUGEINT * dt) AS num, CAST(sum(dt) AS BIGINT) AS den,
        CAST(count(*) AS BIGINT) AS n
      FROM seg WHERE dt > 0 GROUP BY 1, 2)
    SELECT event_type, day, n, den AS span_us,
      """ + Aggregates.exactRound6Sql("num", "den") + """ AS twap
    FROM a ORDER BY event_type, day"""

  /** q_win_hampel — Hampel filter per user: a reading is an outlier
    * when it sits more than 3 scaled MADs from the MEDIAN of its
    * centered 21-reading window — the ROBUST sibling of q_win_zscore
    * (a mean/σ detector is dragged by the very outliers it hunts; the
    * rolling-median form is the signal-cleaning staple of sensor and
    * metric pipelines). Exactness: values in integer 1e-4 units; the
    * window median and the MAD are DISCRETE selections (element 11 of
    * the sorted 21-array — no interpolation), and the decision is the
    * pure INTEGER cross-multiplication 10⁴·|v − med| > 44478·MAD
    * (3·1.4826 = 4.4478 enters as the scaled literal — no float at
    * query time); edge rows without a full window are skipped
    * IDENTICALLY on both engines (len = 21). Every output a BIGINT.
    * Scale: ONE user-keyed shuffle + sort; the frame is O(1)-bounded
    * (21 longs), so per-row work is constant and the plan is the same
    * keyed-window shape at any corpus size; outliers-only output
    * keeps the result anomaly-sized. At 100 TB magnitudes the
    * cross-multiplication upgrades to DECIMAL(38) unchanged. */
  private def winHampel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        round($"value" * 10000).cast("bigint").as("v4"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"us".asc, $"event_id".asc).rowsBetween(-10, 10)
    e.withColumn("win", collect_list($"v4").over(w))
      .where(size($"win") === 21)
      .withColumn("s", array_sort($"win"))
      .withColumn("med4", element_at($"s", 11))
      // MAD without the lambda (r22): higher-order `transform` is a
      // CodegenFallback — interpreted per row, measured ~26 µs/row =
      // ~2.6 s of this query's 3.2 s at sf0.1. Exact replacement: for
      // sorted s and m = s[11], the k smallest |s_j − m| always form a
      // CONTIGUOUS window of s containing position 11 (deviations fall
      // moving toward m from either side), so the 11th-smallest
      // deviation is the min over the eleven length-11 windows
      // [j, j+10] ∋ 11 of that window's max deviation
      // max(s[j+10] − m, m − s[j]) — a pure least/greatest expression
      // tree, whole-stage codegen'd, value-identical to the sorted
      // deviations' element 11.
      .withColumn("mad4",
        (1 to 11).map(j => greatest(
          element_at($"s", j + 10) - $"med4",
          $"med4" - element_at($"s", j))).reduce(least(_, _)))
      .where(abs($"v4" - $"med4") * lit(10000L) > $"mad4" * lit(44478L))
      .select($"user_id", $"event_id", $"v4", $"med4", $"mad4")
      .orderBy($"user_id", $"event_id")
  }

  private val winHampelSql = """
    WITH e AS (SELECT user_id, event_id,
        epoch_us(date_trunc('microseconds', ts)) AS us,
        CAST(round(value * 10000) AS BIGINT) AS v4 FROM events),
    w AS (SELECT user_id, event_id, v4,
        list(v4) OVER (PARTITION BY user_id ORDER BY us, event_id
          ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING) AS win
      FROM e),
    m AS (SELECT user_id, event_id, v4, list_sort(win) AS s
          FROM w WHERE len(win) = 21),
    h AS (SELECT user_id, event_id, v4, s[11] AS med4,
            list_sort(list_transform(s, x -> abs(x - s[11])))[11] AS mad4
          FROM m)
    SELECT user_id, event_id, v4, CAST(med4 AS BIGINT) AS med4,
      CAST(mad4 AS BIGINT) AS mad4
    FROM h WHERE 10000 * abs(v4 - med4) > 44478 * mad4
    ORDER BY user_id, event_id"""

  /** q_win_interp — LINEAR-INTERPOLATION resample of each user's value
    * series onto a fixed 6-hour grid: the gauge-alignment primitive of
    * time-series pipelines (join-ready regular grids from irregular
    * readings; q_win_resample's last-value fill is the step-function
    * sibling — this is the continuous one). Exactness: readings
    * deduped per (user, µs) on the total (event_id) order; the
    * interpolated value at grid t between brackets (tₐ,vₐ),(t_b,v_b)
    * is the exact rational (vₐ·(t_b−t) + v_b·(t−tₐ)) / (t_b−tₐ) in
    * integer 1e-4-scaled units — numerator carried in DECIMAL(38)
    * (µs-gap × scaled value ≈ 10¹⁷, the q_win_twap cliff) through ONE
    * signed [[Aggregates.exactRound6]]. Bracketing is the
    * q_join_nearest both-ways single-sort: grid points and readings
    * union into one keyed (pt, kind) order, last-prior/first-later
    * readings ride ignoreNulls frames — the corpus never self-joins
    * and no grid×readings pair table exists. Edge contract (engine-
    * identical, mirrored in the oracle and InterpSpec): a grid point
    * coinciding exactly with a user's FIRST reading emits (the
    * formula degenerates to vₐ), while one coinciding with the LAST
    * reading is dropped — the same-µs reading sorts before the grid
    * row, so the forward frame sees no bracket. Scale: ONE user-keyed
    * shuffle + sort over readings+grid; grid size is span-bounded. */
  private def winInterp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val step = 21600000000L // 6 h in µs
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val e0 = Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("us"),
        round($"value" * 10000).cast("bigint").as("v4"), $"event_id")
    val byUserUs = Window.partitionBy($"user_id", $"us")
      .orderBy($"event_id".asc)
    val e = e0.withColumn("rn", row_number().over(byUserUs))
      .where($"rn" === 1).select($"user_id", $"us", $"v4")
    val b = e.groupBy($"user_id").agg(
      ceil(min($"us").cast("double") / lit(step.toDouble)).cast("long")
        .as("h0"),
      floor(max($"us").cast("double") / lit(step.toDouble)).cast("long")
        .as("h1"))
    val grid = b.select($"user_id",
      explode(sequence($"h0", $"h1")).as("h"))
      .select($"user_id", ($"h" * step).as("pt"))
    val u = e.select($"user_id", $"us".as("pt"), $"v4", lit(0).as("kind"))
      .unionByName(grid.select($"user_id", $"pt",
        lit(null).cast("bigint").as("v4"), lit(1).as("kind")))
    val ord = Window.partitionBy($"user_id").orderBy($"pt".asc, $"kind".asc)
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rdPt = when($"kind" === 0, $"pt")
    val w = u
      .withColumn("ta", max(rdPt).over(back))
      .withColumn("va", last(when($"kind" === 0, $"v4"), ignoreNulls = true)
        .over(back))
      .withColumn("tb", min(rdPt).over(fwd))
      .withColumn("vb", first(when($"kind" === 0, $"v4"),
        ignoreNulls = true).over(fwd))
    w.where($"kind" === 1 && $"ta".isNotNull && $"tb".isNotNull)
      .select($"user_id", $"pt".as("t"),
        Aggregates.exactRound6(
          d38($"va") * ($"tb" - $"pt") + d38($"vb") * ($"pt" - $"ta"),
          $"tb" - $"ta").as("v4_interp"))
      .orderBy($"user_id", $"t")
  }

  private val winInterpSql = """
    WITH e0 AS (SELECT user_id,
        epoch_us(date_trunc('microseconds', ts)) AS us,
        CAST(round(value * 10000) AS BIGINT) AS v4, event_id
      FROM events),
    e AS (SELECT user_id, us, v4 FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, us
              ORDER BY event_id) AS rn FROM e0)
          WHERE rn = 1),
    b AS (SELECT user_id,
            CAST(ceil(CAST(min(us) AS DOUBLE) / 21600000000.0)
              AS BIGINT) AS h0,
            CAST(floor(CAST(max(us) AS DOUBLE) / 21600000000.0)
              AS BIGINT) AS h1
          FROM e GROUP BY 1),
    grid AS (SELECT user_id, 21600000000 * h AS pt
             FROM b, unnest(generate_series(h0, h1)) AS g(h)),
    u AS (SELECT user_id, us AS pt, v4, 0 AS kind FROM e
          UNION ALL
          SELECT user_id, pt, NULL::BIGINT, 1 AS kind FROM grid),
    w AS (SELECT user_id, pt, kind,
            max(CASE WHEN kind = 0 THEN pt END) OVER
              (PARTITION BY user_id ORDER BY pt, kind
               ROWS UNBOUNDED PRECEDING) AS ta,
            last_value(CASE WHEN kind = 0 THEN v4 END IGNORE NULLS) OVER
              (PARTITION BY user_id ORDER BY pt, kind
               ROWS UNBOUNDED PRECEDING) AS va,
            min(CASE WHEN kind = 0 THEN pt END) OVER
              (PARTITION BY user_id ORDER BY pt, kind
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tb,
            first_value(CASE WHEN kind = 0 THEN v4 END IGNORE NULLS) OVER
              (PARTITION BY user_id ORDER BY pt, kind
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vb
          FROM u)
    SELECT user_id, pt AS t,
      """ + Aggregates.exactRound6Sql(
        "va::HUGEINT * (tb - pt) + vb::HUGEINT * (pt - ta)",
        "tb - ta") + """ AS v4_interp
    FROM w
    WHERE kind = 1 AND ta IS NOT NULL AND tb IS NOT NULL
    ORDER BY user_id, t"""

  /** q_win_peaks — local-maxima PEAK PICKING per user with an integer
    * prominence floor: a reading is a peak when it strictly exceeds
    * BOTH neighbors and rises ≥ 0.2 units above the higher of them —
    * the signal-processing primitive behind spike detection, event
    * extraction and series summarization (scipy find_peaks' core
    * semantics, on the prior/next-neighbor prominence). Exactness:
    * values integer 1e-4 units; the peak test and prominence
    * v₄ − max(prev, next) are pure integer comparisons on the total
    * (µs, event_id) order; edge rows (no neighbor) are excluded
    * identically on both engines. Scale: ONE user-keyed shuffle +
    * sort; lag and lead share the window; peaks-only output keeps the
    * result event-sparse. */
  private def winPeaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Window.partitionBy($"user_id")
      .orderBy($"us".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        round($"value" * 10000).cast("bigint").as("v4"))
      .withColumn("pv", lag($"v4", 1).over(ord))
      .withColumn("nv", lead($"v4", 1).over(ord))
      .where($"pv".isNotNull && $"nv".isNotNull &&
        $"v4" > $"pv" && $"v4" > $"nv" &&
        $"v4" - greatest($"pv", $"nv") >= 2000L)
      .select($"user_id", $"event_id", $"v4",
        ($"v4" - greatest($"pv", $"nv")).as("prom4"))
      .orderBy($"user_id", $"event_id")
  }

  private val winPeaksSql = """
    WITH e AS (SELECT user_id, event_id,
        epoch_us(date_trunc('microseconds', ts)) AS us,
        CAST(round(value * 10000) AS BIGINT) AS v4 FROM events),
    w AS (SELECT user_id, event_id, v4,
        lag(v4) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pv,
        lead(v4) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nv
      FROM e)
    SELECT user_id, event_id, v4,
      CAST(v4 - greatest(pv, nv) AS BIGINT) AS prom4
    FROM w
    WHERE pv IS NOT NULL AND nv IS NOT NULL
      AND v4 > pv AND v4 > nv AND v4 - greatest(pv, nv) >= 2000
    ORDER BY user_id, event_id"""

  /** q_win_gap_stats — inter-arrival profile per user: exact DISCRETE
    * order statistics (min / median / p90 / max) of the gaps between
    * a user's consecutive events — the behavioral-cadence feature of
    * churn models and the burstiness screen of ops monitoring.
    * Exactness: gaps are integer MICROSECONDS from a lag over the
    * total (ts, event_id) order; percentiles are DISCRETE selections
    * arr[⌈q·n⌉] from the sorted gap array (ceil via the integer
    * (9n+9)÷10 — no float interpolation, which engines round
    * differently), so every output is a BIGINT that actually occurs
    * in the data. Scale: one user-keyed shuffle for the lag, one
    * keyed collect of a BOUNDED per-user history (the q_win_ema
    * precedent) — no global sort, no corpus-wide percentile. */
  private def winGapStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
    val g = e.select($"user_id",
      ($"us" - lag($"us", 1).over(Window.partitionBy($"user_id")
        .orderBy($"us".asc, $"event_id".asc))).as("gap"))
    val a = g.where($"gap".isNotNull)
      .groupBy($"user_id")
      .agg(sort_array(collect_list($"gap")).as("arr"),
        count(lit(1)).as("n"))
    def at(idx: org.apache.spark.sql.Column) =
      element_at($"arr", idx.cast("int"))
    a.select($"user_id", $"n",
        at(lit(1L)).as("min_gap"),
        at(call_function("div", $"n" + lit(1L), lit(2L))).as("med_gap"),
        at(call_function("div", lit(9L) * $"n" + lit(9L), lit(10L)))
          .as("p90_gap"),
        at($"n").as("max_gap"))
      .orderBy($"user_id")
  }

  private val winGapStatsSql = """
    WITH e AS (SELECT user_id, event_id,
        epoch_us(date_trunc('microseconds', ts)) AS us FROM events),
    g AS (SELECT user_id,
        us - lag(us) OVER (PARTITION BY user_id
          ORDER BY us, event_id) AS gap
      FROM e),
    a AS (SELECT user_id, list(gap ORDER BY gap) AS arr,
        CAST(count(gap) AS BIGINT) AS n
      FROM g WHERE gap IS NOT NULL GROUP BY 1)
    SELECT user_id, n,
      arr[1] AS min_gap,
      arr[CAST((n+1)//2 AS INT)] AS med_gap,
      arr[CAST((9*n+9)//10 AS INT)] AS p90_gap,
      arr[CAST(n AS INT)] AS max_gap
    FROM a ORDER BY user_id"""

  /** q_win_attrib — last-touch attribution (the marketing-analytics
    * staple): each purchase attributes to its user's most recent
    * PRECEDING click within a 7-day lookback; the rollup reports, per
    * purchase day, how many purchases were click-attributed and the
    * attributed share. Exactness: the lookback test is pure integer
    * microsecond arithmetic (no float durations), counts BIGINT, the
    * share one [[Aggregates.exactRound6]]; day numbering floor()s the
    * IEEE-identical micros division (r9 discipline); the carried
    * "latest prior click" is a running max over a total (ts,
    * event_id) order, so an equal-timestamp click counts iff its
    * event_id sorts before the purchase — deterministic both engines.
    * Scale: one user-keyed shuffle + sort (running-frame max is O(1)
    * state), then one map-side-combined day rollup — the corpus never
    * joins itself (the naive purchase×click as-of self-join is the
    * shape this window replaces). */
  private def winAttrib(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lc = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts")
      .withColumn("last_click",
        max(when($"event_type" === "click", unix_micros($"ts"))).over(w))
    val p = lc.where($"event_type" === "purchase")
      .select(
        floor(unix_micros($"ts").cast("double") / lit(86400000000.0))
          .cast("long").as("day"),
        when($"last_click".isNotNull &&
          unix_micros($"ts") - $"last_click" <= 604800000000L, 1L)
          .otherwise(0L).as("attr"))
    p.groupBy($"day")
      .agg(count(lit(1)).as("n_purch"), sum($"attr").as("n_attr"))
      .select($"day", $"n_purch", $"n_attr",
        Aggregates.exactRound6($"n_attr", $"n_purch").as("share"))
      .orderBy($"day")
  }

  private val winAttribSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
        date_trunc('microseconds', ts) AS tsu FROM events),
    lc AS (SELECT user_id, event_id, event_type, tsu,
        max(CASE WHEN event_type = 'click' THEN epoch_us(tsu) END)
          OVER (PARTITION BY user_id ORDER BY tsu, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS last_click
      FROM e),
    p AS (SELECT CAST(floor(CAST(epoch_us(tsu) AS DOUBLE)
            / 86400000000.0) AS BIGINT) AS day,
        CASE WHEN last_click IS NOT NULL
          AND epoch_us(tsu) - last_click <= 604800000000 THEN 1
          ELSE 0 END AS attr
      FROM lc WHERE event_type = 'purchase'),
    a AS (SELECT day, CAST(count(*) AS BIGINT) AS n_purch,
        CAST(sum(attr) AS BIGINT) AS n_attr FROM p GROUP BY 1)
    SELECT day, n_purch, n_attr,
      """ + Aggregates.exactRound6Sql("n_attr", "n_purch") + """ AS share
    FROM a ORDER BY day"""

  /** q_win_zscore — rolling z-score anomaly flags: a reading is an
    * outlier when it sits more than 3σ from the mean of its user's
    * TRAILING 20 readings (current row excluded — detection against
    * the prior baseline, the proper anomaly form; warmup rows with a
    * short window are skipped). Exactness: values scaled to integer
    * 1e-4 units (the cents discipline), and the 3σ test is the pure
    * INTEGER cross-multiplication (n·v − s)² > 9·(n·q − s²) — both
    * sides of the inequality multiplied through by n², so no float
    * mean, no float variance, no sqrt; every output column is BIGINT
    * and hash-exact. Scale: one user-keyed shuffle + per-partition
    * sort; count/sum/sum-of-squares share the single ROWS frame
    * (O(1) sliding state each); at 100 TB magnitudes the three
    * moments carry in DECIMAL(38) with the identical inequality. */
  private def winZscore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts",
        round($"value" * 10000).cast("bigint").as("v"))
    val fr = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc).rowsBetween(-20, -1)
    val w = v.select($"user_id", $"event_id", $"v",
      count(lit(1)).over(fr).as("n"),
      sum($"v").over(fr).as("s"),
      sum($"v" * $"v").over(fr).as("q"))
    val dev2 = ($"n" * $"v" - $"s") * ($"n" * $"v" - $"s")
    val var9 = lit(9L) * ($"n" * $"q" - $"s" * $"s")
    w.where($"n" === 20 && dev2 > var9)
      .select($"user_id", $"event_id", $"v", $"n", $"s",
        dev2.as("dev2n2"), var9.as("var9n2"))
      .orderBy($"user_id", $"event_id")
  }

  private val winZscoreSql = """
    WITH v AS (SELECT user_id, event_id, ts,
        CAST(round(value * 10000) AS BIGINT) AS v
      FROM events),
    w AS (SELECT user_id, event_id, v,
        CAST(count(*) OVER fr AS BIGINT) AS n,
        CAST(sum(v) OVER fr AS BIGINT) AS s,
        CAST(sum(v * v) OVER fr AS BIGINT) AS q
      FROM v
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id, v, n, s,
      CAST((n*v - s)*(n*v - s) AS BIGINT) AS dev2n2,
      CAST(9*(n*q - s*s) AS BIGINT) AS var9n2
    FROM w WHERE n = 20 AND (n*v - s)*(n*v - s) > 9*(n*q - s*s)
    ORDER BY user_id, event_id"""

  /** q_win_pop — period-over-period growth (the WoW dashboard staple):
    * weekly event counts per type, each week's delta and growth ratio
    * against the PREVIOUS OBSERVED week (a gap compares across it —
    * the "vs last period with data" reading). Exactness: counts
    * BIGINT, delta signed BIGINT, ratio cur/prev an exact rational
    * through one [[Aggregates.exactRound6]] (counts are positive so
    * the scaled-integer HALF_UP never sees a negative); week numbering
    * floor()s the IEEE-identical micros division (r9 discipline).
    * Scale: ONE corpus pass to the (type, week) count table — the lag
    * window runs over that bounded table, keyed by type. */
  private def winPop(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wk = Tables.events(spark, dir)
      .groupBy($"event_type",
        floor(unix_micros($"ts").cast("double") / lit(604800000000.0))
          .cast("long").as("week"))
      .agg(count(lit(1)).as("c"))
    val l = wk.withColumn("prev", lag($"c", 1).over(
      Window.partitionBy($"event_type").orderBy($"week".asc)))
    l.where($"prev".isNotNull)
      .select($"event_type", $"week", $"c", $"prev",
        ($"c" - $"prev").as("delta"),
        Aggregates.exactRound6($"c", $"prev").as("ratio"))
      .orderBy($"event_type", $"week")
  }

  private val winPopSql = """
    WITH wk AS (SELECT event_type,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 604800000000.0)
          AS BIGINT) AS week,
        CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, week, c,
        lag(c) OVER (PARTITION BY event_type ORDER BY week) AS prev
      FROM wk)
    SELECT event_type, week, c, prev, CAST(c - prev AS BIGINT) AS delta,
      """ + Aggregates.exactRound6Sql("c", "prev") + """ AS ratio
    FROM l WHERE prev IS NOT NULL ORDER BY event_type, week"""

  /** q_win_rfm — RFM (recency / frequency / monetary) customer
    * segmentation, the canonical CRM scoring scheme: per customer,
    * days since last order, order count, and lifetime spend; each
    * dimension quintile-scored 1–5 (5 = most recent / most frequent /
    * highest spend) and the population profiled per (r,f,m) segment.
    * Exactness: money in CENTS (round(price·100) BIGINT), recency as
    * an integer day diff from the data-derived anchor (global max
    * order date — no wall clock), and ntile ties broken by custkey so
    * every score is a pure function of the sort key; outputs are all
    * BIGINTs — nothing floats. Scale: corpus → per-(nation, customer)
    * keyed agg (map-side combined); the three score windows partition
    * by NATION (within-market quintiles), so no window is a single
    * global partition — the documented exactness baseline; a 100 TB
    * deployment with billions of customers per market cuts on
    * approx_percentile boundaries instead. Anchor is a 1-row broadcast. */
  private def winRfm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey", $"o_custkey")
      .agg(max($"o_orderdate").as("last_d"),
        count(lit(1)).as("freq"),
        sum(round($"o_totalprice" * 100).cast("bigint")).as("cents"))
    val anchor = per.agg(max($"last_d").as("mx"))
    val byN = Window.partitionBy($"c_nationkey")
    val scored = per.crossJoin(broadcast(anchor))
      .select(
        datediff(to_date($"mx"), to_date($"last_d")).cast("long")
          .as("rec_days"),
        $"freq", $"cents",
        ntile(5).over(byN.orderBy($"last_d".desc, $"o_custkey".asc))
          .cast("long").as("r_score"),
        ntile(5).over(byN.orderBy($"freq".desc, $"o_custkey".asc))
          .cast("long").as("f_score"),
        ntile(5).over(byN.orderBy($"cents".desc, $"o_custkey".asc))
          .cast("long").as("m_score"))
    scored.groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_cust"), sum($"cents").as("tot_cents"),
        min($"rec_days").as("min_rec_days"),
        max($"freq").cast("long").as("max_freq"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }

  private val winRfmSql = """
    WITH per AS (
      SELECT c.c_nationkey AS nk, o.o_custkey AS cust,
        max(o.o_orderdate) AS last_d,
        CAST(count(*) AS BIGINT) AS freq,
        CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
          AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    anchor AS (SELECT max(last_d) AS mx FROM per),
    scored AS (
      SELECT CAST(datediff('day', CAST(last_d AS DATE),
          CAST((SELECT mx FROM anchor) AS DATE)) AS BIGINT) AS rec_days,
        freq, cents,
        CAST(ntile(5) OVER (PARTITION BY nk
          ORDER BY last_d DESC, cust ASC) AS BIGINT) AS r_score,
        CAST(ntile(5) OVER (PARTITION BY nk
          ORDER BY freq DESC, cust ASC) AS BIGINT) AS f_score,
        CAST(ntile(5) OVER (PARTITION BY nk
          ORDER BY cents DESC, cust ASC) AS BIGINT) AS m_score
      FROM per)
    SELECT r_score, f_score, m_score,
      CAST(count(*) AS BIGINT) AS n_cust,
      CAST(sum(cents) AS BIGINT) AS tot_cents,
      CAST(min(rec_days) AS BIGINT) AS min_rec_days,
      CAST(max(freq) AS BIGINT) AS max_freq
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  /** q_win_pareto — revenue-concentration (Pareto / "80-20") profile
    * per nation: the smallest number of customers covering ≥ 80% of
    * order value, plus the top-customer share — the concentration
    * diagnostic every revenue/usage dashboard carries (and, over
    * per-source token counts, the corpus-concentration screen of a
    * data pipeline). Exactness: money is held in CENTS
    * (round(price·100) BIGINT — the q_agg_hist double→cents
    * discipline), the curve is a keyed cumsum over the per-customer
    * spend table on the total (cents DESC, cust ASC) key, the 80%
    * test is the INTEGER cross-multiplication 5·cum ≥ 4·total (no
    * percentage float), and the top-1 share is one exactRound6.
    * Scale: corpus → per-(nation, customer) keyed agg (map-side
    * combined), windows run nation-keyed over the customer-count-sized
    * spend table, 25-row broadcast name join. */
  private def winPareto(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey", $"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("bigint")).as("cents"))
    val byNation = Window.partitionBy($"c_nationkey")
    val ranked = spend.select($"c_nationkey", $"cents",
      row_number().over(byNation.orderBy($"cents".desc, $"o_custkey".asc))
        .as("rk"),
      sum($"cents").over(byNation.orderBy($"cents".desc, $"o_custkey".asc))
        .as("cum"),
      sum($"cents").over(byNation).as("tot"),
      count(lit(1)).over(byNation).as("n_cust"),
      max($"cents").over(byNation).as("top1"))
    ranked.where($"cum" * 5 >= $"tot" * 4)
      .groupBy($"c_nationkey")
      .agg(min($"rk").cast("long").as("k80"), max($"n_cust").as("n_cust"),
        max($"tot").as("tot_cents"), max($"top1").as("top1_cents"))
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), $"n_cust", $"k80", $"tot_cents",
        Aggregates.exactRound6($"top1_cents", $"tot_cents")
          .as("top1_share"))
      .orderBy($"nation")
  }

  private val winParetoSql = """
    WITH spend AS (SELECT c.c_nationkey AS nk, o.o_custkey AS cust,
            CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2),
    r AS (SELECT nk, cents,
            row_number() OVER (PARTITION BY nk
              ORDER BY cents DESC, cust ASC) AS rk,
            CAST(sum(cents) OVER (PARTITION BY nk
              ORDER BY cents DESC, cust ASC) AS BIGINT) AS cum,
            CAST(sum(cents) OVER (PARTITION BY nk) AS BIGINT) AS tot,
            CAST(count(*) OVER (PARTITION BY nk) AS BIGINT) AS n_cust,
            CAST(max(cents) OVER (PARTITION BY nk) AS BIGINT) AS top1
          FROM spend),
    a AS (SELECT nk, CAST(min(rk) AS BIGINT) AS k80,
            max(n_cust) AS n_cust, max(tot) AS tot_cents,
            max(top1) AS top1
          FROM r WHERE cum * 5 >= tot * 4 GROUP BY 1)
    SELECT n.n_name AS nation, a.n_cust, a.k80, a.tot_cents,
      """ + Aggregates.exactRound6Sql("a.top1", "a.tot_cents") + """
        AS top1_share
    FROM a JOIN nation n ON a.nk = n.n_nationkey
    ORDER BY nation"""

  /** q_win_ts_match — time-series similarity search (the UCR-suite /
    * matrix-profile primitive, after "Time Series Similarity Search
    * for Streaming Data in Distributed Systems", EDBT 2019): find the
    * 10 length-8 windows, across every user's (ts, event_id)-ordered
    * value series, most similar to a fixed query pattern under
    * Z-NORMALIZED euclidean distance (shape match, offset/scale
    * invariant — the similarity that matters for sensor/behavior
    * series). Query pattern = the first window of the smallest
    * qualifying user (data-derived, deterministic; the self-match at
    * distance 0 anchors the result). Plan: one keyed collect per user
    * (bounded per-user history, as q_win_ema), sliding windows via
    * sequence+slice per row, per-window stats and the distance as
    * LEFT-FOLD HOFs — the identical IEEE op sequence as the oracle's
    * list_reduce, so distances hash-match at full precision — then a
    * global TakeOrdered top-k (no full sort). Zero-variance windows
    * are excluded (z-norm undefined). At 100 TB the UCR lower bounds
    * (LB_Kim/LB_Keogh) prune candidates before the exact distance;
    * this is the exact form. */
  private def winTsMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = 8
    val dm = lit(m.toDouble)
    def fsum(a: org.apache.spark.sql.Column) =
      aggregate(a, lit(0.0d), (acc, x) => acc + x)
    val ser = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(transform(
        sort_array(collect_list(struct($"ts", $"event_id", $"value"))),
        x => x.getField("value")).as("vals"))
      .where(size($"vals") >= m)
    val probe = ser.orderBy($"user_id").limit(1)
      .select(slice($"vals", 1, m).as("q"))
    val wins = ser
      .select($"user_id", posexplode(
        transform(sequence(lit(1), size($"vals") - (m - 1)),
          i => slice($"vals", i, lit(m)))).as(Seq("pos0", "w")))
      .select($"user_id", ($"pos0" + 1).as("pos"), $"w")
    val scored = wins.crossJoin(broadcast(probe))
      .withColumn("mw", fsum($"w") / dm)
      .withColumn("vw",
        fsum(transform($"w", x => x * x)) / dm - $"mw" * $"mw")
      .withColumn("mq", fsum($"q") / dm)
      .withColumn("vq",
        fsum(transform($"q", x => x * x)) / dm - $"mq" * $"mq")
      .where($"vw" > 0 && $"vq" > 0)
      .withColumn("dist", sqrt(fsum(zip_with(
        $"w", $"q",
        (a, b) => ((a - $"mw") / sqrt($"vw") - (b - $"mq") / sqrt($"vq")) *
          ((a - $"mw") / sqrt($"vw") - (b - $"mq") / sqrt($"vq"))))))
    scored.select($"user_id", $"pos", $"dist")
      .orderBy($"dist".asc, $"user_id".asc, $"pos".asc)
      .limit(10)
  }

  private val winTsMatchSql = """
    WITH ser AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id),
    big AS (SELECT user_id, vals FROM ser WHERE len(vals) >= 8),
    probe AS (SELECT vals[1:8] AS q FROM big ORDER BY user_id LIMIT 1),
    wins AS (
      SELECT user_id, i AS pos, vals[i : i + 7] AS w
      FROM big, unnest(generate_series(1, len(vals) - 7)) AS t(i)),
    st AS (
      SELECT user_id, pos, w, q,
        list_reduce(w, (acc, x) -> acc + x) / 8.0 AS mw,
        list_reduce(list_transform(w, x -> x * x),
          (acc, x) -> acc + x) / 8.0
          - (list_reduce(w, (acc, x) -> acc + x) / 8.0)
          * (list_reduce(w, (acc, x) -> acc + x) / 8.0) AS vw,
        list_reduce(q, (acc, x) -> acc + x) / 8.0 AS mq,
        list_reduce(list_transform(q, x -> x * x),
          (acc, x) -> acc + x) / 8.0
          - (list_reduce(q, (acc, x) -> acc + x) / 8.0)
          * (list_reduce(q, (acc, x) -> acc + x) / 8.0) AS vq
      FROM wins, probe),
    d AS (
      SELECT user_id, pos,
        sqrt(list_reduce(
          list_transform(generate_series(1, 8),
            j -> ((w[j] - mw) / sqrt(vw) - (q[j] - mq) / sqrt(vq))
               * ((w[j] - mw) / sqrt(vw) - (q[j] - mq) / sqrt(vq))),
          (acc, x) -> acc + x)) AS dist
      FROM st WHERE vw > 0 AND vq > 0)
    SELECT user_id, pos, dist FROM d
    ORDER BY dist ASC, user_id ASC, pos ASC LIMIT 10"""

  /** q_win_cusum — CUSUM drift detection per key (Page 1954; the
    * classic change-point / anomaly monitor over a value stream):
    * one-sided CUSUM `S_i = max(0, S_{i−1} + x_i − k)` with reference
    * k = μ + 50 and alarm threshold h = 200, emitting the alarm rows.
    * The max(0,·) RECURSION is not a window function — but it has the
    * closed form `S_i = C_i − min_{0≤j≤i} C_j` over the plain cumsum C
    * of deviations WITH the initial state C_0 = 0 included in the min
    * (spelled `least(min(cum) OVER …, 0)`), so the whole detector is
    * two stacked keyed window aggregates (running sum, then running
    * min), no UDF, no iteration.
    * Determinism: the ROWS frame is ordered by the total key
    * (ts, event_id), so both engines add the identical doubles in the
    * identical order — the cumsum is bit-identical, not merely close;
    * μ is the exact-decimal corpus mean divided once (Det.davg's
    * contract). Scale: two window passes over the same (user_id)
    * partitioning — ONE shuffle, the second window reuses the sort. */
  private def winCusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    // r15 sf0.1 lesson: a running DOUBLE window sum is NOT cross-engine
    // safe even though both engines walk the same order — DuckDB
    // evaluates windowed sums with a segment TREE, so prefix sums
    // associate differently and low bits diverge on long keys (3/794
    // rows at sf0.1). Fix by the Det discipline, dodging the μ division:
    // multiply the recurrence through by n — n·devᵢ = n·vᵢ − Σv − 50n
    // is EXACT DECIMAL, every window sum/min stays exact decimal
    // (association-order independent by definition), the alarm
    // threshold scales to 200·n, and ONE final double division per
    // output row maps back (identical doubles both engines).
    val stats = ev.agg(sum(dec("value")).as("sv"),
      count(lit(1)).as("n"))
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = ev.crossJoin(broadcast(stats))
      .select($"event_id", $"user_id", $"ts", $"n",
        (dec("value") * $"n" - $"sv" - decLit(50) * $"n")
          .cast(DecimalType(38, 4)).as("devq"))
    val c = d.withColumn("cumq", sum($"devq").over(byUser))
    // S_i = C_i − min_{0≤j≤i} C_j with C_0 = 0: the running min must
    // include the initial zero state, else the first row per key is
    // forced to 0 and drift is under-reported while cum stays > 0.
    // The 6-dp output itself must round in INTEGERS: cusumq/n is a
    // rational that can land exactly ON a x.xxxxxx5 tie (21/794 rows
    // at sf0.1 did), where the two engines' double images straddle the
    // boundary. a = cusumq·10⁴ is an exact BIGINT, so
    // c6 = ⌊(200·a + n) / (2n)⌋ is HALF_UP at 6 dp computed exactly,
    // and c6/10⁶ is ONE correctly-rounded double division of identical
    // integers — bit-identical both engines.
    c.withColumn("cusumq",
        $"cumq" - least(min($"cumq").over(byUser),
          lit(0).cast(DecimalType(38, 4))))
      .where($"cusumq" > decLit(200).cast(DecimalType(38, 4)) * $"n")
      .withColumn("a", ($"cusumq" * lit(10000)).cast("long"))
      .select($"event_id", $"user_id",
        (expr("(a * 200 + n) DIV (2 * n)").cast("double") / lit(1e6))
          .as("cusum"))
      .orderBy($"event_id")
  }

  private val winCusumSql = """
    WITH m AS (SELECT CAST(sum(CAST(value AS DECIMAL(18,4)))
                        AS DECIMAL(38,4)) AS sv,
                 CAST(count(*) AS BIGINT) AS n FROM events),
    d AS (SELECT event_id, user_id, ts, n,
            CAST(CAST(value AS DECIMAL(18,4)) * n - sv - 50 * n
              AS DECIMAL(38,4)) AS devq
          FROM events, m),
    c AS (SELECT event_id, user_id, ts, n,
            CAST(sum(devq) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING)
              AS DECIMAL(38,4)) AS cumq
          FROM d),
    s AS (SELECT event_id, user_id, n,
            cumq - least(CAST(min(cumq) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING)
                           AS DECIMAL(38,4)),
                         CAST(0 AS DECIMAL(38,4))) AS cusumq
          FROM c),
    a AS (SELECT event_id, user_id, n,
            CAST(cusumq * 10000 AS BIGINT) AS a
          FROM s WHERE cusumq > CAST(200 AS DECIMAL(38,4)) * n)
    SELECT event_id, user_id,
      CAST((a * 200 + n) // (2 * n) AS DOUBLE) / 1000000.0 AS cusum
    FROM a ORDER BY event_id"""

  /** q_win_ma_cross — moving-average crossover detection on each
    * event type's daily-count series (the "golden/death cross" signal
    * of every monitoring and trading stack): a fast 3-day trailing
    * sum crossing a slow 10-day one, detected WITHOUT ever dividing —
    * s₃/3 vs s₁₀/10 is compared as the integer cross-product 10·s₃
    * vs 3·s₁₀, so no float enters and no engine can disagree on a
    * boundary day. The series is densified onto the shared day grid
    * (missing day = 0, the q_agg_corr_matrix discipline); days
    * without a full slow window (row_number < 10) are out of signal
    * scope; a crossing is a strict sign flip between consecutive
    * in-scope days (touch-zero days end no signal — documented).
    * Emits the crossing day with before/after signs and both sums.
    * Scale: everything after the ONE map-side-combined corpus count
    * runs on the types×days grid — the windows and lag share one
    * (type)-keyed sort; 10·s₃ at 10¹² daily counts is ~10¹³,
    * long-safe by five orders. */
  private def winMaCross(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = Aggregates.dailyCounts(spark, dir)
    val ord = Window.partitionBy($"event_type").orderBy($"day")
    val m = grid.select($"event_type", $"day",
      sum($"c").over(ord.rowsBetween(-2, 0)).as("s3"),
      sum($"c").over(ord.rowsBetween(-9, 0)).as("s10"),
      row_number().over(ord).as("rn"))
    val sg = m.where($"rn" >= 10).select($"event_type", $"day", $"s3",
      $"s10",
      when(lit(10L) * $"s3" > lit(3L) * $"s10", 1L)
        .when(lit(10L) * $"s3" < lit(3L) * $"s10", -1L)
        .otherwise(0L).as("sgn"))
    sg.withColumn("prev", lag($"sgn", 1).over(ord))
      .where($"prev".isNotNull && $"sgn" =!= $"prev"
        && $"sgn" =!= 0L && $"prev" =!= 0L)
      .select($"event_type", $"day", $"prev".as("sgn_before"),
        $"sgn".as("sgn_after"), $"s3", $"s10")
      .orderBy($"event_type", $"day")
  }

  private val winMaCrossSql = """
    WITH e AS (SELECT event_type,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          AS BIGINT) AS day,
        CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
    grid AS (SELECT t.event_type, d.day, coalesce(e.c, 0) AS c
      FROM (SELECT DISTINCT event_type FROM e) t
      CROSS JOIN (SELECT DISTINCT day FROM e) d
      LEFT JOIN e ON e.event_type = t.event_type AND e.day = d.day),
    m AS (SELECT event_type, day,
        CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS s3,
        CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT) AS s10,
        row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM grid),
    sg AS (SELECT event_type, day, s3, s10,
        CAST(CASE WHEN 10 * s3 > 3 * s10 THEN 1
                  WHEN 10 * s3 < 3 * s10 THEN -1
                  ELSE 0 END AS BIGINT) AS sgn
      FROM m WHERE rn >= 10),
    x AS (SELECT event_type, day, s3, s10, sgn,
        lag(sgn) OVER (PARTITION BY event_type ORDER BY day) AS prev
      FROM sg)
    SELECT event_type, day, prev AS sgn_before, sgn AS sgn_after,
      s3, s10
    FROM x
    WHERE prev IS NOT NULL AND sgn <> prev AND sgn <> 0 AND prev <> 0
    ORDER BY event_type, day"""

  /** q_win_vwap — volume-weighted average price per ship week over
    * lineitem: Σ discounted-revenue / Σ quantity — the QUANTITY-
    * weighted price level (the finance VWAP; equally the cost-per-
    * unit of any metered pipeline), complementing q_win_twap's TIME
    * weighting. Exactness: price in integer cents, discount in
    * integer percent, quantity integral by TPC-H construction — the
    * per-row revenue p₂·(100−d₂) is an exact 1e-4-dollar integer;
    * the revenue sum rides DECIMAL(38)/HUGEINT (row revenue ~10⁹ ×
    * 10¹² rows at 100 TB overflows long) and is EMITTED as its digit
    * string (the r17 witness discipline); the VWAP is ONE
    * [[Aggregates.exactRound6]] over (Σrev, Σqty·10⁴). Scale: one
    * map-side-combined groupBy on the week key — no window, no
    * join; week flooring is the IEEE-identical micros division. */
  private def winVwap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir).select(
      floor(unix_micros($"l_shipdate").cast("double")
        / lit(604800000000.0)).cast("long").as("wk"),
      round($"l_extendedprice" * 100).cast("bigint").as("p2"),
      round($"l_discount" * 100).cast("bigint").as("d2"),
      round($"l_quantity").cast("bigint").as("q0"))
    l.groupBy($"wk")
      .agg(count(lit(1)).as("n"), sum($"q0").as("qty"),
        sum(($"p2" * (lit(100L) - $"d2")).cast("decimal(20,0)"))
          .as("rev4"))
      .select($"wk", $"n", $"qty", $"rev4".cast("string").as("rev4"),
        Aggregates.exactRound6($"rev4",
          $"qty".cast("decimal(19,0)") * lit(10000L)).as("vwap"))
      .orderBy($"wk")
  }

  private val winVwapSql = """
    WITH l AS (SELECT
        CAST(floor(CAST(epoch_us(l_shipdate) AS DOUBLE)
          / 604800000000.0) AS BIGINT) AS wk,
        CAST(round(l_extendedprice * 100) AS BIGINT) AS p2,
        CAST(round(l_discount * 100) AS BIGINT) AS d2,
        CAST(round(l_quantity) AS BIGINT) AS q0 FROM lineitem)
    SELECT wk, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(q0) AS BIGINT) AS qty,
      CAST(sum(p2::HUGEINT * (100 - d2)) AS VARCHAR) AS rev4,
      """ + Aggregates.exactRound6Sql("sum(p2::HUGEINT * (100 - d2))",
        "CAST(sum(q0) AS BIGINT)::HUGEINT * 10000") + """ AS vwap
    FROM l GROUP BY 1 ORDER BY 1"""

  /** q_win_rsi — 14-day Relative Strength Index on each event type's
    * daily-count series: RSI = 100·G/(G+L) where G/L are the trailing
    * sums of daily gains/losses — the bounded momentum oscillator
    * (overbought/oversold screening) next to q_win_ma_cross's
    * crossover signal; on an ops series it reads "is this metric's
    * recent movement mostly up or mostly down". Exactness: the series
    * is densified (corr_matrix discipline), diffs/gains/losses pure
    * integers, the ratio ONE [[Aggregates.exactRound6]](100·G, G+L);
    * a flat 14-day window (G+L = 0) yields NULL on BOTH engines
    * (never a divide-by-zero); warm-up rows (rn < 15 — the first
    * diff is NULL and 14 full diffs must exist) are out of scope.
    * Scale: grid-sized lag + two frame sums share one (type)-keyed
    * sort; 100·G at 10¹² daily counts is ~10¹⁶, long-safe. */
  private def winRsi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = Aggregates.dailyCounts(spark, dir)
    val ord = Window.partitionBy($"event_type").orderBy($"day")
    val df = grid.select($"event_type", $"day",
      ($"c" - lag($"c", 1).over(ord)).as("d"),
      row_number().over(ord).as("rn"))
    val frame = ord.rowsBetween(-13, 0)
    df.select($"event_type", $"day", $"rn",
        sum(greatest($"d", lit(0L))).over(frame).as("g"),
        sum(greatest(-$"d", lit(0L))).over(frame).as("l"))
      .where($"rn" >= 15)
      .select($"event_type", $"day", $"g", $"l",
        when($"g" + $"l" === 0L, lit(null).cast("double"))
          .otherwise(Aggregates.exactRound6(lit(100L) * $"g",
            $"g" + $"l")).as("rsi"))
      .orderBy($"event_type", $"day")
  }

  private val winRsiSql = """
    WITH e AS (SELECT event_type,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          AS BIGINT) AS day,
        CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
    grid AS (SELECT t.event_type, d.day, coalesce(e.c, 0) AS c
      FROM (SELECT DISTINCT event_type FROM e) t
      CROSS JOIN (SELECT DISTINCT day FROM e) d
      LEFT JOIN e ON e.event_type = t.event_type AND e.day = d.day),
    df AS (SELECT event_type, day,
        c - lag(c) OVER (PARTITION BY event_type ORDER BY day) AS d,
        row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM grid),
    m AS (SELECT event_type, day, rn,
        CAST(sum(greatest(d, 0)) OVER (PARTITION BY event_type
          ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
          AS BIGINT) AS g,
        CAST(sum(greatest(-d, 0)) OVER (PARTITION BY event_type
          ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
          AS BIGINT) AS l
      FROM df)
    SELECT event_type, day, g, l,
      CASE WHEN g + l = 0 THEN NULL
           ELSE """ + Aggregates.exactRound6Sql("100 * g", "g + l") + """
      END AS rsi
    FROM m WHERE rn >= 15 ORDER BY event_type, day"""

  /** q_win_acf — lag-k autocorrelation (k = 1..7) of each event type's
    * daily-count series: the correlogram that tells a monitoring feed
    * whether a metric has day-over-day persistence or a weekly echo —
    * the structure DIAGNOSTIC next to q_agg_trend (direction),
    * q_win_rsi (momentum) and q_agg_seasonality (one fixed period;
    * ACF screens all lags at once). Exactness: the series is densified
    * (corr_matrix discipline) and mean-centered WITHOUT division — the
    * deviation is carried n-scaled as cp = n·c − Σc (pure integer in
    * DECIMAL(38)), so r_k = Σ_{t≤n−k} cp_t·cp_{t+k} / Σ_t cp_t² with
    * the n² scale cancelling exactly; both moments are emitted as
    * exact digit strings (r17 witness discipline) and the 6-dp acf is
    * ONE [[Aggregates.exactRound6]] over the fraction REDUCED by a
    * shared power of ten (den trimmed to ≤ 15 digits, |num| by the
    * same power — Cauchy–Schwarz gives |num| ≤ den so the trimmed
    * numerator stays long-safe; exact until den exceeds 15 digits,
    * ≤ 10⁻¹⁴ relative past that — the reducedR2/q_agg_lift documented
    * class). An all-flat series (den = 0) yields NULL acf on BOTH
    * engines. Scale: one map-side-combined corpus pass to the
    * checkpointed (type, day) count table; the deviation table, the
    * den rollup and the 7-lag self-join (keyed on type, rn+k) all run
    * on the bounded types×days grid. */
  private def winAcf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val grid = Aggregates.dailyCounts(spark, dir)
    val st = grid.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"c").as("s"))
    val ord = Window.partitionBy($"event_type").orderBy($"day")
    // deviations materialized ONCE: the den rollup and BOTH self-join
    // sides read this table (grid-sized — a tiny checkpoint)
    val dev = grid.join(broadcast(st), "event_type")
      .select($"event_type", $"day", (d38($"n") * $"c" - $"s").as("cp"))
      .withColumn("rn", row_number().over(ord))
      .drop("day")
      .localCheckpoint(true)
    val den = dev.groupBy($"event_type").agg(sum($"cp" * $"cp").as("den"))
    val ks = spark.range(1, 8).select($"id".as("k"))
    val b = dev.select($"event_type".as("et_b"), $"rn".as("rn_b"),
      $"cp".as("cp_b"))
    val num = dev.crossJoin(broadcast(ks))
      .join(b, $"et_b" === $"event_type" && $"rn_b" === $"rn" + $"k")
      .groupBy($"event_type", $"k")
      .agg(sum($"cp" * $"cp_b").as("num"))
    def pow10(kc: org.apache.spark.sql.Column) =
      concat(lit("1"), call_function("repeat", lit("0"),
        kc.cast("int"))).cast("decimal(38,0)")
    val j = greatest(lit(0), length($"den".cast("string")) - lit(15))
    val numMagR = d38(call_function("div", abs($"num"), pow10(j)))
    val numR = when($"num" < 0, -numMagR).otherwise(numMagR)
    val denR = d38(call_function("div", $"den", pow10(j)))
    num.join(broadcast(den), "event_type")
      .select($"event_type", $"k",
        $"num".cast("string").as("acf_num"),
        $"den".cast("string").as("acf_den"),
        when($"den" === 0, lit(null).cast("double"))
          .otherwise(Aggregates.exactRound6(numR, denR)).as("acf"))
      .orderBy($"event_type", $"k")
  }

  private val winAcfSql = """
    WITH e AS (SELECT event_type,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          AS BIGINT) AS day,
        CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
    grid AS (SELECT t.event_type, d.day, coalesce(e.c, 0) AS c
      FROM (SELECT DISTINCT event_type FROM e) t
      CROSS JOIN (SELECT DISTINCT day FROM e) d
      LEFT JOIN e ON e.event_type = t.event_type AND e.day = d.day),
    st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(c) AS BIGINT) AS s FROM grid GROUP BY 1),
    dev AS (SELECT g.event_type,
        g.c::HUGEINT * st.n - st.s AS cp,
        row_number() OVER (PARTITION BY g.event_type ORDER BY g.day)
          AS rn
      FROM grid g JOIN st ON st.event_type = g.event_type),
    den AS (SELECT event_type, sum(cp * cp) AS den
      FROM dev GROUP BY 1),
    num AS (SELECT a.event_type, k.k, sum(a.cp * b.cp) AS num
      FROM dev a CROSS JOIN (SELECT CAST(unnest(generate_series(1, 7))
        AS BIGINT) AS k) k
      JOIN dev b ON b.event_type = a.event_type AND b.rn = a.rn + k.k
      GROUP BY 1, 2),
    red AS (SELECT n.event_type, n.k, n.num, d.den,
        CAST(concat('1', repeat('0', CAST(greatest(0,
          length(CAST(d.den AS VARCHAR)) - 15) AS INTEGER)))
          AS HUGEINT) AS p
      FROM num n JOIN den d ON d.event_type = n.event_type)
    SELECT event_type, k, CAST(num AS VARCHAR) AS acf_num,
      CAST(den AS VARCHAR) AS acf_den,
      CASE WHEN den = 0 THEN NULL
        ELSE """ + Aggregates.exactRound6Sql(
          "(CASE WHEN num < 0 THEN -1 ELSE 1 END) * (abs(num) // p)",
          "den // p") + """
      END AS acf
    FROM red ORDER BY event_type, k"""

  /** q_win_bollinger — 20-day Bollinger-band breach detection on each
    * event type's daily-count series: is today's value outside the
    * trailing mean ± 2σ envelope — the adaptive-threshold anomaly
    * screen next to q_win_zscore's fixed population z and
    * q_win_hampel's median rule (Bollinger adapts the band to the
    * local level AND local volatility). Exactness: NO division or
    * sqrt anywhere — |c − μ| > 2σ over the 20-day frame is tested as
    * the INTEGER cross-multiplication (20·c − S)² > 4·(20·Q − S²)
    * (multiply through by 20²; S = ΣC, Q = Σc² over the frame), all
    * carried in DECIMAL(38)/HUGEINT; warm-up rows (rn < 20) are out
    * of scope; Q crosses the output boundary as its exact digit
    * string (r17 witness discipline). A flat window (variance 0)
    * breaches only on a strict deviation — the same strict-inequality
    * contract both engines share. Scale: grid-sized window sums share
    * one (type)-keyed sort; at 10¹² daily counts 20·Q ≤ 8·10²⁷ and
    * dev² ≤ 4·10²⁶ — inside DECIMAL(38) with ten digits of
    * headroom. */
  private def winBollinger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val grid = Aggregates.dailyCounts(spark, dir)
    val ord = Window.partitionBy($"event_type").orderBy($"day")
    val frame = ord.rowsBetween(-19, 0)
    val m = grid.select($"event_type", $"day", $"c",
        row_number().over(ord).as("rn"),
        sum($"c").over(frame).as("s20"),
        sum(d38($"c") * $"c").over(frame).as("q20"))
      .where($"rn" >= 20)
    val dev = d38(lit(20L)) * $"c" - $"s20"
    val varn = d38(lit(20L)) * $"q20" - d38($"s20") * $"s20"
    m.select($"event_type", $"day", $"c", $"s20",
        $"q20".cast("string").as("q20"),
        when(dev > 0 && dev * dev > varn * lit(4), 1L).otherwise(0L)
          .as("breach_hi"),
        when(dev < 0 && dev * dev > varn * lit(4), 1L).otherwise(0L)
          .as("breach_lo"))
      .orderBy($"event_type", $"day")
  }

  private val winBollingerSql = """
    WITH e AS (SELECT event_type,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          AS BIGINT) AS day,
        CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
    grid AS (SELECT t.event_type, d.day, coalesce(e.c, 0) AS c
      FROM (SELECT DISTINCT event_type FROM e) t
      CROSS JOIN (SELECT DISTINCT day FROM e) d
      LEFT JOIN e ON e.event_type = t.event_type AND e.day = d.day),
    m AS (SELECT event_type, day, c,
        row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
        CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT) AS s20,
        sum(c::HUGEINT * c) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS q20
      FROM grid),
    t AS (SELECT event_type, day, c, s20, q20,
        20::HUGEINT * c - s20 AS dev,
        20::HUGEINT * q20 - s20::HUGEINT * s20 AS varn
      FROM m WHERE rn >= 20)
    SELECT event_type, day, c, s20, CAST(q20 AS VARCHAR) AS q20,
      CAST(CASE WHEN dev > 0 AND dev * dev > varn * 4
        THEN 1 ELSE 0 END AS BIGINT) AS breach_hi,
      CAST(CASE WHEN dev < 0 AND dev * dev > varn * 4
        THEN 1 ELSE 0 END AS BIGINT) AS breach_lo
    FROM t ORDER BY event_type, day"""

  /** q_win_atr — 14-candle Average True Range on the per-(type, day)
    * OHLC candles of q_win_ohlc: TR = max(high − low, |high − prev
    * close|, |low − prev close|) and ATR = its trailing 14-candle
    * mean — the level-free VOLATILITY gauge of technical analysis
    * (and of ops monitoring: "how wide does this metric swing
    * day-to-day, gaps included"), next to q_win_bollinger (which
    * needs a level band) and q_win_rsi (direction). Candles exist
    * only on ACTIVE days (the trading-calendar convention — no
    * densification; a gap day simply contributes its open-vs-prior-
    * close jump to TR). Exactness: values integer 1e-4 units, TR an
    * integer greatest of differences, ATR ONE
    * [[Aggregates.exactRound6]] over the 14-frame integer sum;
    * warm-up rows (rn < 15 — TR needs a prev close and 14 full TRs
    * must exist) are out of scope. Scale: the candle build is one
    * (type, day)-keyed aggregate; lag + frame sum share one
    * (type)-keyed candle sort — candle-table-sized, not
    * corpus-sized. */
  private def winAtr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byCandle = Window.partitionBy($"event_type", $"day")
    val e = Tables.events(spark, dir)
      .select($"event_type",
        floor(unix_micros($"ts").cast("double") / lit(86400000000.0))
          .cast("long").as("day"),
        unix_micros($"ts").as("us"), $"event_id",
        round($"value" * 10000).cast("bigint").as("v"))
    val r = e.select($"event_type", $"day", $"v",
      row_number().over(byCandle.orderBy($"us".asc, $"event_id".asc))
        .as("rn"),
      count(lit(1)).over(byCandle).as("n"))
    val candles = r.groupBy($"event_type", $"day")
      .agg(max($"v").as("high"), min($"v").as("low"),
        max(when($"rn" === $"n", $"v")).as("close"))
    val ord = Window.partitionBy($"event_type").orderBy($"day")
    val tr = candles.select($"event_type", $"day", $"high", $"low",
        lag($"close", 1).over(ord).as("pc"),
        row_number().over(ord).as("rn"))
      .select($"event_type", $"day", $"rn",
        greatest($"high" - $"low", abs($"high" - $"pc"),
          abs($"low" - $"pc")).as("tr"))
    tr.select($"event_type", $"day", $"rn", $"tr",
        sum($"tr").over(ord.rowsBetween(-13, 0)).as("str"))
      .where($"rn" >= 15)
      .select($"event_type", $"day", $"tr",
        Aggregates.exactRound6($"str", lit(14L)).as("atr4"))
      .orderBy($"event_type", $"day")
  }

  private val winAtrSql = """
    WITH e AS (SELECT event_type,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          AS BIGINT) AS day,
        epoch_us(date_trunc('microseconds', ts)) AS us, event_id,
        CAST(round(value * 10000) AS BIGINT) AS v
      FROM events),
    r AS (SELECT event_type, day, v,
        row_number() OVER (PARTITION BY event_type, day
          ORDER BY us, event_id) AS rn,
        CAST(count(*) OVER (PARTITION BY event_type, day) AS BIGINT)
          AS n
      FROM e),
    c AS (SELECT event_type, day,
        CAST(max(v) AS BIGINT) AS high, CAST(min(v) AS BIGINT) AS low,
        CAST(max(CASE WHEN rn = n THEN v END) AS BIGINT) AS close
      FROM r GROUP BY 1, 2),
    t AS (SELECT event_type, day,
        row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
        greatest(high - low,
          abs(high - lag(close) OVER (PARTITION BY event_type
            ORDER BY day)),
          abs(low - lag(close) OVER (PARTITION BY event_type
            ORDER BY day))) AS tr
      FROM c),
    s AS (SELECT event_type, day, rn, tr,
        CAST(sum(tr) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS str
      FROM t)
    SELECT event_type, day, tr,
      """ + Aggregates.exactRound6Sql("str", "14") + """ AS atr4
    FROM s WHERE rn >= 15 ORDER BY event_type, day"""

  /** q_win_wow — week-over-week growth per event type: weekly counts
    * and the percentage change against the previous week — the most
    * common dashboard delta, the DISCRETE counterpart of
    * q_agg_trend's fitted slope (trend: the average direction; WoW:
    * this week's actual move). Exactness: weeks are the integral
    * day-div-7 (non-negative ⇒ truncate == floor both engines), the
    * growth percentage ONE [[Aggregates.exactRound6]] over
    * (100·(c − prev), prev) — signed numerator, HALF-AWAY ties, NULL
    * on BOTH engines for the first observed week and for prev = 0.
    * Scale: ONE map-side-combined corpus pass to the (type, week)
    * count table; the lag is one keyed sort over the weeks-sized
    * rollup. */
  private def winWow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Tables.events(spark, dir)
      .groupBy($"event_type",
        call_function("div",
          floor(unix_micros($"ts").cast("double") / lit(86400000000.0))
            .cast("long"), lit(7L)).as("wk"))
      .agg(count(lit(1)).as("c"))
    val ord = Window.partitionBy($"event_type").orderBy($"wk")
    w.select($"event_type", $"wk", $"c",
        lag($"c", 1).over(ord).as("prev"))
      .select($"event_type", $"wk", $"c", $"prev",
        when($"prev".isNull || $"prev" === 0L,
          lit(null).cast("double"))
          .otherwise(Aggregates.exactRound6(
            lit(100L) * ($"c" - $"prev"), $"prev")).as("wow_pct"))
      .orderBy($"event_type", $"wk")
  }

  private val winWowSql = """
    WITH w AS (SELECT event_type,
        CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
          AS BIGINT) // 7 AS wk,
        CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, wk, c,
        lag(c) OVER (PARTITION BY event_type ORDER BY wk) AS prev
      FROM w)
    SELECT event_type, wk, c, prev,
      CASE WHEN prev IS NULL OR prev = 0 THEN NULL
        ELSE """ + Aggregates.exactRound6Sql("100 * (c - prev)",
          "prev") + """
      END AS wow_pct
    FROM l ORDER BY event_type, wk"""

  val all: Seq[Q] = Seq(
    Q("q_win_wow", winWow _, winWowSql),
    Q("q_win_atr", winAtr _, winAtrSql),
    Q("q_win_acf", winAcf _, winAcfSql),
    Q("q_win_bollinger", winBollinger _, winBollingerSql),
    Q("q_win_rsi", winRsi _, winRsiSql),
    Q("q_win_ma_cross", winMaCross _, winMaCrossSql),
    Q("q_win_vwap", winVwap _, winVwapSql),
    Q("q_win_hampel", winHampel _, winHampelSql),
    Q("q_win_interp", winInterp _, winInterpSql),
    Q("q_win_peaks", winPeaks _, winPeaksSql),
    Q("q_win_cusum", winCusum _, winCusumSql),
    Q("q_win_concurrency", winConcurrency _, winConcurrencySql),
    Q("q_win_streak", winStreak _, winStreakSql),
    Q("q_win_drawdown", winDrawdown _, winDrawdownSql),
    Q("q_win_pareto", winPareto _, winParetoSql),
    Q("q_win_rfm", winRfm _, winRfmSql),
    Q("q_win_zscore", winZscore _, winZscoreSql),
    Q("q_win_attrib", winAttrib _, winAttribSql),
    Q("q_win_gap_stats", winGapStats _, winGapStatsSql),
    Q("q_win_ohlc", winOhlc _, winOhlcSql),
    Q("q_win_twap", winTwap _, winTwapSql),
    Q("q_win_pop", winPop _, winPopSql),
    Q("q_win_distinct_sliding", winDistinctSliding _,
      winDistinctSlidingSql),
    Q("q_win_resample", winResample _, winResampleSql),
    Q("q_win_ema", winEma _, winEmaSql),
    Q("q_win_ts_match", winTsMatch _, winTsMatchSql),
    Q("q_win_nth", winNth _, winNthSql),
    Q("q_win_sliding", winSliding _, winSlidingSql),
    Q("q_win_fill", winFill _, winFillSql),
    Q("q_win_session", winSession _, winSessionSql),
    Q("q_win_session_dynamic", winSessionDynamic _, winSessionDynamicSql),
    Q("q_cep_pattern", cepPattern _, cepPatternSql),
    Q("q_win_dist", winDist _, winDistSql),
    Q("q_win_rank", winRank _, winRankSql),
    Q("q_win_running", winRunning _, winRunningSql),
    Q("q_win_range", winRange _, winRangeSql),
    Q("q_win_time_range", winTimeRange _, winTimeRangeSql),
    Q("q_win_lag", winLag _, winLagSql),
    Q("q_win_ntile_first", winNtileFirst _, winNtileFirstSql),
    Q("q_topk", topk _, topkSql))
}
