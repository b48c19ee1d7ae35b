package streamline.stream

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  Trigger}
import streamline.Q

/** §2.9 keyed state + timers surface — the Flink KeyedProcessFunction /
  * ValueState equivalent: `flatMapGroupsWithState` with a typed
  * `GroupState` (SURVEY.md §2.9).
  *
  * Determinism: per-key state keeps an exact BigDecimal sum with each
  * input quantized like `CAST(x AS DECIMAL(18,4))`, so neither arrival
  * order nor batch boundaries can change the emitted totals; the final
  * row per key is selected by the monotone event counter, so the query
  * is correct even if AvailableNow splits the input into several
  * micro-batches (each key's updates strictly increase in n_events).
  */
object Stateful {

  case class EvRow(user_id: Long, value: Double)
  case class UState(n: Long, sum: BigDecimal)
  case class UOut(user_id: Long, n_events: Long, sum_val: Double)

  private def dec4(v: Double): BigDecimal =
    BigDecimal(v).setScale(4, RoundingMode.HALF_UP)

  private def updateUser(uid: Long, rows: Iterator[EvRow],
                         state: GroupState[UState]): Iterator[UOut] = {
    val prev = state.getOption.getOrElse(UState(0L, BigDecimal(0)))
    var n = prev.n
    var sum = prev.sum
    rows.foreach { r => n += 1; sum += dec4(r.value) }
    state.update(UState(n, sum))
    Iterator(UOut(uid, n, sum.toDouble))
  }

  /** q_stream_stateful — running per-key aggregate in keyed state,
    * emitted as updates; the final (max-counter) update per key is the
    * answer. */
  private def streamStateful(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = Streams.eventsStream(spark, dir)
      .select($"user_id", $"value").as[EvRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(updateUser)
      .toDF()
    val collected = Streams.runToTable(spark, "stateful", "update", updates)
    val w = Window.partitionBy($"user_id").orderBy($"n_events".desc)
    collected
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"n_events", $"sum_val")
      .orderBy($"user_id")
  }

  private val streamStatefulSql = """
    SELECT user_id, count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM events GROUP BY user_id ORDER BY user_id"""

  /** q_stream_late — watermark semantics witness: a two-batch
    * MemoryStream where the second batch carries an event far behind
    * the watermark; the late row must NOT appear in the windowed
    * counts. Oracled (r22, closing the long-standing no-oracle gap)
    * by a WATERMARK-SIMULATION batch SQL over the same literal rows:
    * after batch 1 the watermark is floor_ms(max batch-1 ts) − delay,
    * and Spark's late filter drops a batch-2 row iff its window END ≤
    * that watermark (WatermarkSupport.watermarkPredicateForData), so
    * the oracle keeps batch-1 rows plus batch-2 rows whose window end
    * clears it — the simulation, not a hardcoded answer. */
  private def streamLate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lateCounts(spark, "10 minutes").orderBy($"w_start")
  }

  /** The two-batch late-data scenario of q_stream_late and
    * q_stream_late_side: a fresh MemoryStream fed three on-time events,
    * then one event at 09:30, behind the watermark unless `delay`
    * allows 2h20m of lateness. Returns the final count per 1-hour
    * window (max over update-mode re-emissions). */
  private def lateCounts(spark: SparkSession, delay: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", delay)
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".cast("timestamp_ntz").as("w_start"), $"n")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // The source is fed after start, so the default trigger, not
    // AvailableNow (which would snapshot an empty source and stop).
    Streams.runToTable(spark, "late", "update", agg,
      trigger = Trigger.ProcessingTime(0L), await = { q =>
        // Batch 1: three on-time events; advances a 10-minute
        // watermark to 11:50.
        input.addData((ts("2024-03-01 10:15:00"), 1L),
          (ts("2024-03-01 11:10:00"), 2L), (ts("2024-03-01 12:00:00"), 3L))
        q.processAllAvailable()
        // Batch 2: one event at 09:30 — 2h20m behind that watermark.
        input.addData((ts("2024-03-01 09:30:00"), 9L))
        q.processAllAvailable()
      })
      .groupBy($"w_start").agg(max($"n").as("n"))
  }

  private val streamLateSql = """
    WITH ev AS (SELECT * FROM (VALUES
        (TIMESTAMP '2024-03-01 10:15:00', 1),
        (TIMESTAMP '2024-03-01 11:10:00', 1),
        (TIMESTAMP '2024-03-01 12:00:00', 1),
        (TIMESTAMP '2024-03-01 09:30:00', 2)) AS t(ts, batch)),
    wm AS (SELECT date_trunc('millisecond', max(ts)) - INTERVAL 10 MINUTE
             AS w FROM ev WHERE batch = 1),
    kept AS (SELECT ts FROM ev WHERE batch = 1
          OR date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm))
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
      CAST(count(*) AS BIGINT) AS n
    FROM kept GROUP BY 1 ORDER BY w_start"""

  case class ToRow(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class ToState(n: Long, sum: BigDecimal, last_ms: Long)
  case class ToOut(user_id: Long, n_events: Long, sum_val: Double)

  private val idleGapMs = 30L * 60 * 1000

  /** Keyed-state timer callback — the Flink KeyedProcessFunction
    * `registerEventTimeTimer`/`onTimer` surface: accumulate per-key
    * totals silently, arm an event-time timer at (last event + 30 min),
    * and emit the key's aggregate only when the watermark passes the
    * timer (idle-key flush). On timeout the state is removed, so a key
    * holds state only while active + one idle gap — the TTL property
    * that keeps per-key state usable on an unbounded stream. */
  private def updateTimeout(uid: Long, rows: Iterator[ToRow],
                            state: GroupState[ToState]): Iterator[ToOut] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator(ToOut(uid, s.n, s.sum.toDouble))
    } else {
      val prev = state.getOption.getOrElse(ToState(0L, BigDecimal(0), 0L))
      var n = prev.n
      var sum = prev.sum
      var last = prev.last_ms
      // Timestamp.getTime floors µs→ms exactly like the watermark's
      // EventTimeStats, so the armed timer is ms-aligned with the
      // oracle's date_trunc('millisecond', ...).
      rows.foreach { r =>
        n += 1; sum += dec4(r.value); last = math.max(last, r.ts.getTime)
      }
      state.update(ToState(n, sum, last))
      state.setTimeoutTimestamp(last + idleGapMs)
      Iterator.empty
    }
  }

  /** q_stream_timeout — event-time timers flushing idle keys
    * (GroupStateTimeout.EventTimeTimeout). Deterministic oracle: with
    * the finite input processed as one batch, the final watermark is
    * floor_ms(max(ts)) − 10 min and a key fires iff its timer
    * (floor_ms(key max ts) + 30 min) is strictly below it — Spark's
    * timeout check is `timeoutTimestamp < watermark`
    * (FlatMapGroupsWithStateExec.processTimedOutState; pinned by
    * TimeoutBoundarySpec). */
  private def streamTimeout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = Streams.eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .select($"user_id", $"ts", $"value")
      .as[ToRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateTimeout)
      .toDF()
    Streams.runToTable(spark, "timeout", "append", updates)
      .orderBy($"user_id")
  }

  private val streamTimeoutSql = """
    WITH wm AS (SELECT date_trunc('millisecond', max(ts))
                  - INTERVAL 10 MINUTE AS w FROM events)
    SELECT user_id, count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM events GROUP BY user_id
    HAVING date_trunc('millisecond', max(ts)) + INTERVAL 30 MINUTE
             < (SELECT w FROM wm)
    ORDER BY user_id"""

  case class TjRow(user_id: Long, ts_us: Long, event_id: Long,
                   is_dim: Boolean, value: Double)
  case class TjVer(ts_us: Long, event_id: Long, value: Double)
  case class TjOut(user_id: Long, p_id: Long, p_ts_us: Long,
                   dim_val: Option[Double], v_id: Option[Long])

  /** Temporal-table join callback — the Flink TemporalRowTimeJoinOperator
    * shape: per key, buffer dimension versions, and join each probe row
    * with the latest version at or before its event time (ties → max
    * event_id). One merged (ts, kind, id) sweep per batch — the same
    * last-value composition as the batch as-of join, but incremental:
    * after the batch only the single latest version is retained (the
    * only one a later in-order probe can need), which is the bounded-
    * state property; Flink's operator keeps versions until the
    * watermark passes for out-of-order probes, same bound. */
  private def updateTj(uid: Long, rows: Iterator[TjRow],
                       state: GroupState[List[TjVer]]): Iterator[TjOut] = {
    val batch = rows.toList
    val newVers = batch.filter(_.is_dim)
      .map(r => TjVer(r.ts_us, r.event_id, r.value))
    val vers = (state.getOption.getOrElse(Nil) ++ newVers)
      .sortBy(v => (v.ts_us, v.event_id))
    val probes = batch.filterNot(_.is_dim).sortBy(r => (r.ts_us, r.event_id))
    val out = probes.map { p =>
      val m = vers.takeWhile(v => v.ts_us <= p.ts_us).lastOption
      TjOut(uid, p.event_id, p.ts_us, m.map(_.value), m.map(_.event_id))
    }
    state.update(vers.takeRight(1))
    out.iterator
  }

  /** q_join_temporal — versioned-dimension (temporal table) join: an
    * unbounded probe stream joined against a *changing* dimension,
    * each probe seeing the dimension value that was current at its own
    * event time (Flink 1.7 temporal table functions). `view` events are
    * the dimension versions (value = the versioned attribute), `purchase`
    * events the probes. Composed from keyed state — Spark's stream-stream
    * join has no "latest version" semantics — with state bounded to one
    * retained version per key. Oracle: the ANSI as-of formulation over
    * the same two event slices. */
  private def joinTemporal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = Streams.eventsStream(spark, dir)
      .where($"event_type".isin("view", "purchase"))
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        ($"event_type" === "view").as("is_dim"), $"value")
      .as[TjRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(updateTj)
      .toDF()
    Streams.runToTable(spark, "temporal", "append", updates)
      .select($"user_id", $"p_id",
        date_trunc("second", timestamp_micros($"p_ts_us"))
          .cast("timestamp_ntz").as("p_ts"),
        $"dim_val", $"v_id")
      .orderBy($"user_id", $"p_id")
  }

  private val joinTemporalSql = """
    WITH d AS (SELECT event_id AS v_id, user_id,
                      date_trunc('microseconds', ts) AS v_ts, value
               FROM events WHERE event_type = 'view'),
         p AS (SELECT event_id AS p_id, user_id,
                      date_trunc('microseconds', ts) AS p_ts
               FROM events WHERE event_type = 'purchase'),
         j AS (SELECT p.user_id, p.p_id, p.p_ts, d.value AS dim_val,
                      d.v_id,
                 row_number() OVER (PARTITION BY p.p_id
                   ORDER BY d.v_ts DESC NULLS LAST,
                            d.v_id DESC NULLS LAST) AS rn
               FROM p LEFT JOIN d
                 ON p.user_id = d.user_id AND d.v_ts <= p.p_ts)
    SELECT user_id, p_id, date_trunc('second', p_ts) AS p_ts, dim_val, v_id
    FROM j WHERE rn = 1
    ORDER BY user_id, p_id"""

  /** q_stream_late_side — allowed-lateness / late-data capture (Flink
    * `allowedLateness` + `sideOutputLateData`). Structured Streaming has
    * no native side outputs, so the production composition is a second
    * pass with a longer watermark: the strict pass (10 min) drops late
    * rows, the lenient pass (1 day allowed lateness) still counts them,
    * and the per-window difference IS the side output — the windows and
    * counts of the rows the strict watermark rejected. Witnessed on the
    * same two-batch MemoryStream scenario as q_stream_late; oracled
    * (r22) by the same watermark-simulation batch SQL, once per
    * watermark delay, differenced per window. */
  private def streamLateSide(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lateCounts(spark, "1 day").as("l")
      .join(lateCounts(spark, "10 minutes").as("s"),
        col("l.w_start") === col("s.w_start"), "left")
      .select(col("l.w_start").as("w_start"),
        (col("l.n") - coalesce(col("s.n"), lit(0L))).as("n_late"))
      .where($"n_late" > 0)
      .orderBy($"w_start")
  }

  private val streamLateSideSql = """
    WITH ev AS (SELECT * FROM (VALUES
        (TIMESTAMP '2024-03-01 10:15:00', 1),
        (TIMESTAMP '2024-03-01 11:10:00', 1),
        (TIMESTAMP '2024-03-01 12:00:00', 1),
        (TIMESTAMP '2024-03-01 09:30:00', 2)) AS t(ts, batch)),
    wm AS (SELECT date_trunc('millisecond', max(ts)) AS m
           FROM ev WHERE batch = 1),
    strict AS (SELECT date_trunc('hour', ts) AS w, count(*) AS n FROM ev
          WHERE batch = 1 OR date_trunc('hour', ts) + INTERVAL 1 HOUR
            > (SELECT m - INTERVAL 10 MINUTE FROM wm) GROUP BY 1),
    lenient AS (SELECT date_trunc('hour', ts) AS w, count(*) AS n FROM ev
          WHERE batch = 1 OR date_trunc('hour', ts) + INTERVAL 1 HOUR
            > (SELECT m - INTERVAL 1 DAY FROM wm) GROUP BY 1)
    SELECT CAST(l.w AS TIMESTAMP) AS w_start,
      CAST(l.n - coalesce(s.n, 0) AS BIGINT) AS n_late
    FROM lenient l LEFT JOIN strict s ON l.w = s.w
    WHERE l.n - coalesce(s.n, 0) > 0
    ORDER BY w_start"""

  case class CwRow(user_id: Long, ts: Long, event_id: Long, value: Double)
  case class CwState(buf: List[CwRow], nextWin: Long)
  case class CwOut(user_id: Long, win_id: Long, n: Long, sum_val: Double)

  private val winSize = 5

  /** Per-key count-window fire: buffer rows, emit one aggregate per
    * COMPLETE window of `winSize` events in (ts, event_id) order —
    * Flink's `countWindow(n)` semantics (trailing partial windows never
    * fire). Rows within a batch are sorted before windowing so the
    * result is scan-order independent. */
  private def updateCw(uid: Long, rows: Iterator[CwRow],
                       state: GroupState[CwState]): Iterator[CwOut] = {
    val prev = state.getOption.getOrElse(CwState(Nil, 0L))
    val all = (prev.buf ++ rows.toList).sortBy(r => (r.ts, r.event_id))
    val (complete, rest) = all.splitAt(all.length - all.length % winSize)
    val outs = complete.grouped(winSize).zipWithIndex.map { case (w, i) =>
      val sum = w.foldLeft(BigDecimal(0))((a, r) => a + dec4(r.value))
      CwOut(uid, prev.nextWin + i, winSize.toLong, sum.toDouble)
    }.toList
    state.update(CwState(rest, prev.nextWin + outs.length))
    outs.iterator
  }

  case class FnRow(user_id: Long, ts: Long, event_type: String)
  case class FnState(minSignup: Long, views: List[Long],
                     clicks: List[Long], purchases: List[Long], emit: Long)
  case class FnOut(user_id: Long, max_step: Long, emit: Long)

  private val fnDayUs = 86400000000L

  /** Per-user incremental funnel: state keeps the minimal signup time
    * plus ALL later-step candidate times — the full candidate sets are
    * required for exactness because a late-arriving EARLIER signup
    * shifts every downstream 24 h window, which can move or even
    * revoke later steps (the funnel is NOT monotone in arrival order).
    * Each batch re-derives the (t1..t4) chain from state — a few
    * comparisons over the user's funnel-relevant events — and emits
    * the user's current max step with a per-user emission sequence so
    * the sink recovers the LAST (= final) firing. */
  /** Pure state transition + chain derivation, exposed for
    * StatefulFunnelSpec's arrival-order/batch-split property: fold a
    * batch of rows into the candidate-set state, then re-derive the
    * funnel step. The accumulation is a set union + running min, so
    * the FINAL state (hence the final step) is invariant under any
    * partition of the events into batches in any order. */
  def funnelAdvance(prev: FnState, rows: Seq[FnRow]): (FnState, Long) = {
    var minS = prev.minSignup
    var vs = prev.views
    var cs = prev.clicks
    var ps = prev.purchases
    rows.foreach { r =>
      r.event_type match {
        case "signup"   => if (r.ts < minS) minS = r.ts
        case "view"     => vs ::= r.ts
        case "click"    => cs ::= r.ts
        case "purchase" => ps ::= r.ts
        case _          => ()
      }
    }
    def nextStep(prevT: Long, cands: List[Long]): Long = {
      val elig = cands.filter(t => t > prevT && t <= prevT + fnDayUs)
      if (elig.isEmpty) Long.MinValue else elig.min
    }
    val t1 = if (minS == Long.MaxValue) Long.MinValue else minS
    val t2 = if (t1 == Long.MinValue) Long.MinValue else nextStep(t1, vs)
    val t3 = if (t2 == Long.MinValue) Long.MinValue else nextStep(t2, cs)
    val t4 = if (t3 == Long.MinValue) Long.MinValue else nextStep(t3, ps)
    val step = Seq(t1, t2, t3, t4).takeWhile(_ != Long.MinValue).size.toLong
    (FnState(minS, vs, cs, ps, prev.emit + 1), step)
  }

  def funnelEmptyState: FnState = FnState(Long.MaxValue, Nil, Nil, Nil, 0L)

  private def updateFunnel(uid: Long, rows: Iterator[FnRow],
                           state: GroupState[FnState]): Iterator[FnOut] = {
    val prev = state.getOption.getOrElse(funnelEmptyState)
    val (next, step) = funnelAdvance(prev, rows.toSeq)
    state.update(next)
    Iterator(FnOut(uid, step, next.emit))
  }

  /** q_stream_funnel — the STREAMING twin of q_agg_funnel: the
    * 24 h-bounded signup→view→click→purchase funnel maintained
    * incrementally in keyed state ([[updateFunnel]]), with per-step
    * user counts assembled from each user's LAST firing after the
    * drain. Exactness does not depend on arrival order (state holds
    * the candidate sets, the chain is re-derived per batch), so the
    * result hash-matches the batch oracle under any batch split.
    * State bound: one user's funnel-relevant events — in production
    * trimmed by a funnel-horizon watermark (the 4×24 h chain bounds
    * how far back a candidate can matter once signup time is sealed).
    * Oracle: the batch funnel SQL verbatim. */
  private def streamFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = Streams.eventsStream(spark, dir)
      .select($"user_id", unix_micros($"ts").as("ts"), $"event_type")
      .as[FnRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(updateFunnel)
      .toDF()
    val tbl = Streams.runToTable(spark, "funnel", "update", updates)
    val fin = tbl.groupBy($"user_id")
      .agg(max_by($"max_step", $"emit").as("ms"))
    Seq((1L, "signup"), (2L, "view"), (3L, "click"), (4L, "purchase"))
      .map { case (i, nm) =>
        fin.where($"ms" >= i).agg(count(lit(1)).as("n_users"))
          .select(lit(i).as("step"), lit(nm).as("step_type"), $"n_users")
      }
      .reduce(_ unionByName _)
      .orderBy($"step")
  }

  /** q_stream_count_window — Flink `DataStream.countWindow(5)`: a window
    * type Spark has no built-in for, composed from keyed state
    * (`flatMapGroupsWithState`). State holds only the open (partial)
    * window per key — bounded by winSize rows per key at any moment, so
    * it scales like any keyed state op. Oracle: complete windows of the
    * (ts, event_id)-ordered per-key sequence via row_number arithmetic. */
  private def streamCountWindow(spark: SparkSession,
                                dir: String): DataFrame = {
    import spark.implicits._
    val updates = Streams.eventsStream(spark, dir)
      .select($"user_id", unix_micros($"ts").as("ts"), $"event_id", $"value")
      .as[CwRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(updateCw)
      .toDF()
    Streams.runToTable(spark, "cw", "append", updates)
      .orderBy($"user_id", $"win_id")
  }

  private val streamCountWindowSql = """
    WITH e AS (SELECT user_id, value, event_id,
                 date_trunc('microseconds', ts) AS tsu FROM events),
    o AS (SELECT user_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY tsu, event_id) - 1 AS rn,
            count(*) OVER (PARTITION BY user_id) AS total
          FROM e)
    SELECT user_id, rn // 5 AS win_id, count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM o WHERE rn < total - (total % 5)
    GROUP BY user_id, rn // 5
    ORDER BY user_id, win_id"""

  case class OvRow(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                   value: Double) {
    /** Exact µs from the Timestamp's ms + nanos (same recovery as
      * CepStream.CepRow). */
    def tsUs: Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
  }
  /** Above-watermark suffix + the O(1) running accumulator. */
  case class OvBuf(buf: List[(Long, Long, Double)], // (ts_us, event_id, value)
                   n: Long, sum: BigDecimal)
  case class OvOut(user_id: Long, event_id: Long, running_n: Long,
                   running_sum: Double)

  /** Per-key event-time OVER aggregation — the Flink SQL unbounded
    * over-window on a stream (upstream `flink-table/.../runtime/over/
    * RowTimeUnboundedOverProcessFunction`): buffer arrivals until the
    * watermark passes them, then feed them to the running accumulator
    * in (ts, id) order, emitting ONE ROW PER ELEMENT carrying the
    * aggregate over that element's full event-time prefix. The buffer
    * is bounded by the watermark delay; the accumulator is O(1) per
    * key and lives for the key's lifetime — exactly Flink's
    * over-window state shape (production deployments bound idle keys
    * with state TTL / idle-state retention; a finite harness input
    * doesn't need it). */
  private[streamline] def updateOver(uid: Long, rows: Iterator[OvRow],
      state: GroupState[OvBuf]): Iterator[OvOut] = {
    val prev = state.getOption.getOrElse(OvBuf(Nil, 0L, BigDecimal(0)))
    val wmMs = try state.getCurrentWatermarkMs()
    catch { case _: UnsupportedOperationException => 0L }
    val wmUs = wmMs * 1000L
    val all = (prev.buf ++ rows.map(r => (r.tsUs, r.event_id, r.value)))
      .sortBy { case (t, id, _) => (t, id) }
    val (ready, future) = all.partition(_._1 <= wmUs)
    var n = prev.n
    var sum = prev.sum
    val out = ready.map { case (_, id, v) =>
      n += 1; sum += dec4(v)
      OvOut(uid, id, n, sum.toDouble)
    }
    state.update(OvBuf(future, n, sum))
    // Drain by pure watermark progress: with a non-empty buffer, fire
    // just above the earliest buffered event (timers fire on strict <;
    // clamped above the current watermark). An empty buffer needs no
    // timer — the accumulator is passive until the next arrival.
    future.headOption.foreach { case (t, _, _) =>
      state.setTimeoutTimestamp(math.max(t / 1000L + 1L, wmMs + 1L))
    }
    out.iterator
  }

  /** q_stream_over — `sum/count OVER (PARTITION BY user ORDER BY ts
    * ROWS UNBOUNDED PRECEDING)` on the unbounded event stream. Spark's
    * analytic windows are batch-only; the streaming form is the keyed
    * buffer-and-replay operator above. On finite input the result is
    * the batch OVER restricted to rows the final watermark sealed
    * (later rows sort strictly after, so sealed prefixes are final —
    * which is why per-element append emission is sound). */
  private def streamOver(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = Streams.eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .select($"user_id", $"event_id", $"ts", $"value")
      .as[OvRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateOver)
      .toDF()
    Streams.runToTable(spark, "over", "append", updates)
      .orderBy($"user_id", $"event_id")
  }

  /** Oracle: the batch window function over the watermark-sealed rows;
    * ROWS UNBOUNDED PRECEDING spelled explicitly in both engines (the
    * (ts, id) order is total, so RANGE vs ROWS cannot differ — pinned
    * anyway). */
  private val streamOverSql = """
    WITH e AS (SELECT user_id, event_id,
                 date_trunc('microseconds', ts) AS tsu, value FROM events),
    wm AS (SELECT date_trunc('millisecond', max(tsu))
             - INTERVAL 10 MINUTE AS w FROM e)
    SELECT user_id, event_id,
      count(*) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                     ROWS UNBOUNDED PRECEDING) AS running_n,
      CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id
             ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        AS running_sum
    FROM e WHERE tsu <= (SELECT w FROM wm)
    ORDER BY user_id, event_id"""

  case class ZsRow(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                   value: Double) {
    def tsUs: Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
  }
  /** Above-watermark suffix + the last ≤20 sealed scaled values
    * (oldest first) — the trailing baseline ring. */
  case class ZsBuf(buf: List[(Long, Long, Double)], ring: List[Long])
  case class ZsOut(user_id: Long, event_id: Long, v: Long, n: Long,
                   s: Long, dev2n2: Long, var9n2: Long)

  /** Streaming twin of q_win_zscore (batch Windows.scala) — per-key
    * event-time rolling 3σ anomaly flags on the unbounded stream: the
    * q_stream_over buffer-and-replay shape (arrivals buffered until
    * the watermark seals them, then replayed in (ts, id) order), with
    * the O(1) accumulator replaced by a 20-slot ring of the trailing
    * sealed values. Each sealed reading is tested against the ring
    * BEFORE joining it (current row excluded — the prior-baseline
    * form), with the identical pure-INTEGER cross-multiplication
    * (n·v − s)² > 9·(n·q − s²) as the batch twin, so the emitted rows
    * are exactly the batch query's on the sealed prefix. State is the
    * watermark-bounded buffer + 20 longs per key — O(1) per key. */
  private[streamline] def updateZscore(uid: Long, rows: Iterator[ZsRow],
      state: GroupState[ZsBuf]): Iterator[ZsOut] = {
    val prev = state.getOption.getOrElse(ZsBuf(Nil, Nil))
    val wmMs = try state.getCurrentWatermarkMs()
    catch { case _: UnsupportedOperationException => 0L }
    val wmUs = wmMs * 1000L
    val all = (prev.buf ++ rows.map(r => (r.tsUs, r.event_id, r.value)))
      .sortBy { case (t, id, _) => (t, id) }
    val (ready, future) = all.partition(_._1 <= wmUs)
    var ring = prev.ring
    val out = ready.flatMap { case (_, id, value) =>
      // HALF_UP (away from zero), matching SQL round() and the batch
      // twin q_win_zscore — Scala math.round is half-toward-+∞, which
      // diverges on negative exact .00005 ties (ADVICE r15)
      val v = BigDecimal(value * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).longValue
      val res =
        if (ring.length == 20) {
          val s = ring.sum
          val q = ring.map(x => x * x).sum
          val dev2 = (20L * v - s) * (20L * v - s)
          val var9 = 9L * (20L * q - s * s)
          if (dev2 > var9) Some(ZsOut(uid, id, v, 20L, s, dev2, var9))
          else None
        } else None
      ring = (ring :+ v).takeRight(20)
      res
    }
    state.update(ZsBuf(future, ring))
    future.headOption.foreach { case (t, _, _) =>
      state.setTimeoutTimestamp(math.max(t / 1000L + 1L, wmMs + 1L))
    }
    out.iterator
  }

  private def streamZscore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = Streams.eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .select($"user_id", $"event_id", $"ts", $"value")
      .as[ZsRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateZscore)
      .toDF()
    Streams.runToTable(spark, "zscore", "append", updates)
      .orderBy($"user_id", $"event_id")
  }

  /** Oracle: the batch trailing-20 window restricted to
    * watermark-sealed rows — sound because every row in a sealed
    * row's trailing window sorts before it, hence is sealed too. */
  private val streamZscoreSql = """
    WITH e AS (SELECT user_id, event_id,
        date_trunc('microseconds', ts) AS tsu,
        CAST(round(value * 10000) AS BIGINT) AS v FROM events),
    wm AS (SELECT date_trunc('millisecond', max(tsu))
             - INTERVAL 10 MINUTE AS w FROM e),
    sealed AS (SELECT * FROM e WHERE tsu <= (SELECT w FROM wm)),
    f AS (SELECT user_id, event_id, v,
        CAST(count(*) OVER fr AS BIGINT) AS n,
        CAST(sum(v) OVER fr AS BIGINT) AS s,
        CAST(sum(v * v) OVER fr AS BIGINT) AS q
      FROM sealed
      WINDOW fr AS (PARTITION BY user_id ORDER BY tsu, event_id
        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id, v, n, s,
      CAST((n*v - s)*(n*v - s) AS BIGINT) AS dev2n2,
      CAST(9*(n*q - s*s) AS BIGINT) AS var9n2
    FROM f WHERE n = 20 AND (n*v - s)*(n*v - s) > 9*(n*q - s*s)
    ORDER BY user_id, event_id"""

  case class AtRow(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                   event_type: String) {
    def tsUs: Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
  }
  /** Above-watermark suffix + the latest SEALED click's µs (MinValue
    * when the user has no sealed click yet). */
  case class AtBuf(buf: List[(Long, Long, String)], lastClickUs: Long)
  case class AtOut(user_id: Long, event_id: Long, day: Long, attr: Long)

  /** Streaming twin of q_win_attrib's per-purchase attribution step —
    * last-touch attribution on the live stream: the q_stream_over
    * buffer-and-replay shape with the accumulator replaced by ONE
    * long per key (the latest sealed click's µs). Each sealed
    * purchase emits its day and whether a click preceded it within
    * the 7-day lookback — BEFORE the row itself can update state
    * (purchases don't attribute to themselves), clicks update the
    * carried µs after emission, identical to the batch window's
    * 1-PRECEDING frame. Emitted rows are exactly the batch
    * attribution rows on the sealed prefix; the day rollup stays a
    * downstream batch agg (foreachBatch upsert in production). */
  private[streamline] def updateAttrib(uid: Long, rows: Iterator[AtRow],
      state: GroupState[AtBuf]): Iterator[AtOut] = {
    val prev = state.getOption.getOrElse(AtBuf(Nil, Long.MinValue))
    val wmMs = try state.getCurrentWatermarkMs()
    catch { case _: UnsupportedOperationException => 0L }
    val wmUs = wmMs * 1000L
    val all = (prev.buf ++ rows.map(r => (r.tsUs, r.event_id, r.event_type)))
      .sortBy { case (t, id, _) => (t, id) }
    val (ready, future) = all.partition(_._1 <= wmUs)
    var lastClick = prev.lastClickUs
    val out = ready.flatMap { case (us, id, typ) =>
      val res = if (typ == "purchase") {
        val attr = lastClick != Long.MinValue && us - lastClick <= 604800000000L
        Some(AtOut(uid, id,
          math.floor(us.toDouble / 86400000000.0).toLong,
          if (attr) 1L else 0L))
      } else None
      if (typ == "click") lastClick = us
      res
    }
    state.update(AtBuf(future, lastClick))
    future.headOption.foreach { case (t, _, _) =>
      state.setTimeoutTimestamp(math.max(t / 1000L + 1L, wmMs + 1L))
    }
    out.iterator
  }

  private def streamAttrib(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = Streams.eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .as[AtRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateAttrib)
      .toDF()
    Streams.runToTable(spark, "attrib", "append", updates)
      .orderBy($"user_id", $"event_id")
  }

  /** Oracle: the batch attribution restricted to watermark-sealed
    * rows — sound because a sealed purchase's candidate clicks all
    * sort before it, hence are sealed too. */
  private val streamAttribSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
        date_trunc('microseconds', ts) AS tsu FROM events),
    wm AS (SELECT date_trunc('millisecond', max(tsu))
             - INTERVAL 10 MINUTE AS w FROM e),
    sealed AS (SELECT * FROM e WHERE tsu <= (SELECT w FROM wm)),
    lc AS (SELECT user_id, event_id, event_type, tsu,
        max(CASE WHEN event_type = 'click' THEN epoch_us(tsu) END)
          OVER (PARTITION BY user_id ORDER BY tsu, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS last_click
      FROM sealed)
    SELECT user_id, event_id,
      CAST(floor(CAST(epoch_us(tsu) AS DOUBLE) / 86400000000.0)
        AS BIGINT) AS day,
      CAST(CASE WHEN last_click IS NOT NULL
        AND epoch_us(tsu) - last_click <= 604800000000 THEN 1
        ELSE 0 END AS BIGINT) AS attr
    FROM lc WHERE event_type = 'purchase'
    ORDER BY user_id, event_id"""

  case class DlRow(user_id: Long, event_id: Long,
                   ts: java.sql.Timestamp, event_type: String, value: Double)
  case class DlState(event_id: Long, tsUs: Long,
                     event_type: String, value: Double)
  case class DlOut(user_id: Long, event_id: Long, ts_us: Long,
                   event_type: String, value: Double)

  private def dlUs(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000 + t.getNanos / 1000

  private[streamline] def updateDedupLast(uid: Long, rows: Iterator[DlRow],
      state: GroupState[DlState]): Iterator[DlOut] = {
    var best = state.getOption.getOrElse(DlState(Long.MinValue, Long.MinValue, "", 0.0))
    rows.foreach { r =>
      val us = dlUs(r.ts)
      if (us > best.tsUs || (us == best.tsUs && r.event_id > best.event_id))
        best = DlState(r.event_id, us, r.event_type, r.value)
    }
    state.update(best)
    Iterator(DlOut(uid, best.event_id, best.tsUs, best.event_type, best.value))
  }

  /** q_stream_dedup_last — keep-LAST-row deduplication on an unbounded
    * stream: the reference lineage's Deduplication operator in its
    * `ROW_NUMBER() ... ORDER BY rowtime DESC` form (keep-first is
    * q_stream_dedup via dropDuplicatesWithinWatermark; keep-last needs
    * UPDATE semantics because a later row replaces an earlier answer).
    * Keyed state holds one (ts, event_id)-max row per key; each batch
    * emits the current winner, and because that winner is monotone in
    * the (ts, id) total order, the per-key argmax over all emitted
    * updates IS the final state — arrival order and batch boundaries
    * cannot change it. State is one fixed-width row per key (the 100 TB
    * bound is key cardinality, same as Flink's; production adds a state
    * TTL where the key domain is unbounded). */
  private def streamDedupLast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val updates = Streams.eventsStream(spark, dir)
      .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
      .as[DlRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(updateDedupLast)
      .toDF()
    val collected = Streams.runToTable(spark, "dedup_last", "update", updates)
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts_us".desc, $"event_id".desc)
    collected
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"event_id".as("last_event_id"),
        streamline.util.Det.tsOut(timestamp_micros($"ts_us")).as("last_ts"),
        $"event_type".as("last_type"), $"value".as("last_value"))
      .orderBy($"user_id")
  }

  private val streamDedupLastSql = """
    WITH e AS (SELECT user_id, event_id,
                 date_trunc('microseconds', ts) AS tsu,
                 event_type, value FROM events),
    r AS (SELECT user_id, event_id, tsu, event_type, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY tsu DESC, event_id DESC) AS rn
          FROM e)
    SELECT user_id, event_id AS last_event_id, tsu AS last_ts,
      event_type AS last_type, value AS last_value
    FROM r WHERE rn = 1 ORDER BY user_id"""

  case class TwsOut(user_id: Long, n_events: Long, sum_val: Double)

  /** StatefulProcessor for q_stream_tws: one (count, 4-dp-scaled-sum)
    * ValueState cell per key, updated per batch, running totals
    * emitted. The scaled-long sum keeps the accumulation exact and
    * merge-order free (same dec4 discipline as the mapGroupsWithState
    * witnesses). */
  private class TwsCount(
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, EvRow, TwsOut] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("agg",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        ttl)

    override def handleInputRows(key: Long, rows: Iterator[EvRow],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TwsOut] = {
      var (n, s) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { r =>
        n += 1
        s += dec4(r.value).bigDecimal.movePointRight(4).longValueExact()
      }
      st.update((n, s))
      Iterator.single(TwsOut(key, n, BigDecimal(s, 4).toDouble))
    }
  }

  /** q_stream_tws — `transformWithState` (Spark 4's arbitrary-state
    * operator, the successor of (flat)MapGroupsWithState and the
    * closest Spark surface to the reference lineage's keyed
    * ProcessFunction: named state variables, timers, TTL on a typed
    * StatefulProcessor). Runs the same running per-user aggregate as
    * q_stream_stateful so the two APIs witness each other —
    * same oracle by design. transformWithState REQUIRES the RocksDB
    * state store provider (the operator's state layout is
    * multi-column-family), which is itself the reference parity point:
    * Flink's production state backend is RocksDB, and here the state
    * actually lives in it rather than only in RocksDbStateSpec's
    * backend-swap check. */
  private def streamTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = Streams.eventsStream(spark, dir)
      .select($"user_id", $"value").as[EvRow]
      .groupByKey(_.user_id)
      .transformWithState(new TwsCount,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF()
    val collected = Streams.runToTable(spark, "tws", "update", out,
      confs = Seq(Streams.rocksDb))
    val w = Window.partitionBy($"user_id").orderBy($"n_events".desc)
    collected
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"n_events", $"sum_val")
      .orderBy($"user_id")
  }

  case class TwtOut(user_id: Long, n_events: Long, sum_val: Double,
                    fired_ms: Long)

  /** StatefulProcessor for q_stream_tws_timer: the tws twin of
    * updateTimeout — accumulate (count, scaled-sum, last-event-ms)
    * silently, keep exactly ONE event-time timer armed at
    * (last event + 30 min) by deleting the previous registration, and
    * emit only from `handleExpiredTimer` when the watermark passes the
    * timer; the fired state is then cleared, so an idle key holds
    * state for one gap at most. listTimers() is O(timers-per-key) = 1
    * here — the delete-then-register discipline is what keeps the
    * timer column family from accumulating dead timers at scale. */
  private class TwsIdleFlush extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, ToRow, TwtOut] {
    @transient private var st: org.apache.spark.sql.streaming
      .ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("agg",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ToRow],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TwtOut] = {
      var (n, s, last) =
        if (st.exists()) st.get() else (0L, 0L, 0L)
      rows.foreach { r =>
        n += 1
        s += dec4(r.value).bigDecimal.movePointRight(4).longValueExact()
        // Timestamp.getTime floors µs→ms exactly like EventTimeStats,
        // so the armed timer is ms-aligned with the oracle.
        last = math.max(last, r.ts.getTime)
      }
      st.update((n, s, last))
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last + idleGapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[TwtOut] = {
      val (n, s, _) = st.get()
      st.clear()
      Iterator.single(
        TwtOut(key, n, BigDecimal(s, 4).toDouble,
          expired.getExpiryTimeInMs()))
    }
  }

  /** q_stream_tws_timer — event-time TIMERS on `transformWithState`
    * (`getHandle.registerTimer`/`deleteTimer` + `handleExpiredTimer`,
    * `TimeMode.EventTime`): the full Flink
    * `KeyedProcessFunction.onTimer` surface on Spark 4's arbitrary-
    * state operator, next to q_stream_timeout's older
    * GroupStateTimeout rendering of the same idle-key flush. Same
    * deterministic oracle shape: with the finite input, the final
    * watermark is floor_ms(max ts) − 10 min and a key fires iff its
    * armed timer (floor_ms(key max ts) + 30 min) is AT OR below it —
    * transformWithState drains timers INCLUSIVELY
    * (`expiryTimestampMs <= watermark`), a genuine boundary-semantics
    * difference from fmGWS's strict `<` timeout check, pinned in
    * TwsTimerBoundarySpec (an fmGWS port inherits a one-tick shift).
    * The emitted fired_ms pins WHERE the timer fired, not just that
    * it did. */
  private def streamTwsTimer(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = Streams.eventsStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .select($"user_id", $"ts", $"value").as[ToRow]
      .groupByKey(_.user_id)
      .transformWithState(new TwsIdleFlush,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
      .toDF()
    Streams.runToTable(spark, "tws_timer", "append", out,
      confs = Seq(Streams.rocksDb))
      .orderBy($"user_id")
  }

  private val streamTwsTimerSql = """
    WITH wm AS (SELECT date_trunc('millisecond', max(ts))
                  - INTERVAL 10 MINUTE AS w FROM events)
    SELECT user_id, count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
      CAST(epoch_ms(date_trunc('millisecond', max(ts))
             + INTERVAL 30 MINUTE) AS BIGINT) AS fired_ms
    FROM events GROUP BY user_id
    HAVING date_trunc('millisecond', max(ts)) + INTERVAL 30 MINUTE
             <= (SELECT w FROM wm)
    ORDER BY user_id"""

  case class TmRow(user_id: Long, event_type: String, value: Double)
  case class TmOut(user_id: Long, event_type: String, n: Long,
                   sum_val: Double)

  /** StatefulProcessor for q_stream_tws_map: a MapState variable —
    * per-user map event_type → (count, scaled-sum), the composite-key
    * state layout that RocksDB serves as (grouping key, user key)
    * prefix scans. Each batch emits the key's ENTIRE current map
    * (iterator()), so per (user, type) the emitted count is monotone
    * and last-firing recovery is max(n) under any batch split. */
  private class TwsTypeCount extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, TmRow, TmOut] {
    @transient private var ms: org.apache.spark.sql.streaming
      .MapState[String, (Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      ms = getHandle.getMapState[String, (Long, Long)]("perType",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TmRow],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TmOut] = {
      rows.foreach { r =>
        val (n, s) =
          if (ms.containsKey(r.event_type)) ms.getValue(r.event_type)
          else (0L, 0L)
        ms.updateValue(r.event_type,
          (n + 1,
            s + dec4(r.value).bigDecimal.movePointRight(4)
              .longValueExact()))
      }
      ms.iterator().map { case (t, (n, s)) =>
        TmOut(key, t, n, BigDecimal(s, 4).toDouble)
      }
    }
  }

  /** q_stream_tws_map — MAP state variable on `transformWithState`
    * (`getHandle.getMapState`): per-user per-event-type running
    * (count, sum), the Flink `MapState` analog and the third state
    * surface next to q_stream_tws's ValueState and q_stream_tws_timer's
    * timers. The point of MapState over a ValueState holding a Scala
    * Map: RocksDB stores each (user, type) entry as its OWN key-value
    * pair, so updating one type rewrites one entry, not the whole
    * map — the layout that keeps wide per-key composite state
    * affordable. Update-mode firings re-emit a user's full map
    * whenever the user appears, counts are monotone per (user, type),
    * so max(n) recovers the final snapshot under any batch split. */
  private def streamTwsMap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = Streams.eventsStream(spark, dir)
      .select($"user_id", $"event_type", $"value").as[TmRow]
      .groupByKey(_.user_id)
      .transformWithState(new TwsTypeCount,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF()
    val collected = Streams.runToTable(spark, "tws_map", "update", out,
      confs = Seq(Streams.rocksDb))
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"n".desc)
    collected
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"event_type", $"n", $"sum_val")
      .orderBy($"user_id", $"event_type")
  }

  private val streamTwsMapSql = """
    SELECT user_id, event_type, count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM events GROUP BY user_id, event_type
    ORDER BY user_id, event_type"""

  /** q_stream_tws_ttl — state TTL on `transformWithState`
    * (`TTLConfig` + `TimeMode.ProcessingTime`): every ValueState write
    * carries an expiry; RocksDB keeps a secondary TTL index and the
    * operator drops expired values before reads — the Flink
    * `StateTtlConfig` analog, and the knob that bounds state on keys
    * that go quiet forever (abandoned sessions, churned users). The
    * declared run uses a 1-hour TTL over a seconds-long finite input,
    * so nothing expires and the result provably equals
    * q_stream_stateful's oracle — the witness is that the full TTL
    * machinery (timestamped values + expiry filtering) is on the
    * read/write path, not that wall-clock expiry fired; ACTUAL expiry
    * is pinned deterministically in TwsTtlSpec (50 ms TTL, forced
    * inter-batch sleep, count restarts). */
  private def streamTwsTtl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = Streams.eventsStream(spark, dir)
      .select($"user_id", $"value").as[EvRow]
      .groupByKey(_.user_id)
      .transformWithState(
        new TwsCount(org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofHours(1))),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
      .toDF()
    // A stateful operator in TimeMode.ProcessingTime (TTL state,
    // processing-time timers) reports `shouldRunAnotherBatch=true` on
    // every batch so expiry can keep advancing, and AvailableNow
    // obliges forever (~5 empty micro-batches/sec, 784 snapshot zips
    // before the kill). `processAllAvailable` is no escape: under the
    // continuous batch loop its `noNewData` signal is racy (observed
    // both returning and hanging). Under AvailableNow every batch
    // takes files from the start-time snapshot while any remain, so
    // the FIRST zero-input batch after batch 0 proves the backlog is
    // done; awaitTermination(250) doubles as the poll interval.
    val collected = Streams.runToTable(spark, "tws_ttl", "update", out,
      await = { q =>
        var drained = false
        while (!drained && !q.awaitTermination(250)) {
          val p = q.lastProgress
          drained = p != null && p.batchId > 0 && p.numInputRows == 0
        }
      }, confs = Seq(Streams.rocksDb))
    val w = Window.partitionBy($"user_id").orderBy($"n_events".desc)
    collected
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"n_events", $"sum_val")
      .orderBy($"user_id")
  }

  case class TlRow(user_id: Long, ts_us: Long, event_id: Long,
                   value: Double)
  case class TlOut(user_id: Long, n_seen: Long, last3_ids: String,
                   last3_sum: Double)

  /** StatefulProcessor for q_stream_tws_list: a ListState variable
    * holding the last-3 events per user by (event time, id), plus a
    * ValueState counter. Append is O(1) (RocksDB merge operand — the
    * reason ListState beats a ValueState holding a Scala list: no
    * read-modify-write of the whole buffer per event); the batch-end
    * compaction rewrites at most 3 entries via put(). The kept set is
    * determined purely by the (ts_us, event_id) total order, so batch
    * splits and arrival order cannot change it. */
  private class TwsLastN extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, TlRow, TlOut] {
    @transient private var ls: org.apache.spark.sql.streaming
      .ListState[(Long, Long, Long)] = _
    @transient private var cnt:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val e3 = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
      ls = getHandle.getListState[(Long, Long, Long)]("last3", e3,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TlRow],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TlOut] = {
      var n = if (cnt.exists()) cnt.get() else 0L
      rows.foreach { r =>
        n += 1
        ls.appendValue((r.ts_us, r.event_id,
          dec4(r.value).bigDecimal.movePointRight(4).longValueExact()))
      }
      cnt.update(n)
      val kept = ls.get().toSeq
        .sortBy { case (ts, id, _) => (-ts, -id) }.take(3)
      ls.put(kept.toArray)
      Iterator.single(TlOut(key, n,
        kept.map(_._2).mkString(","),
        BigDecimal(kept.map(_._3).sum, 4).toDouble))
    }
  }

  /** q_stream_tws_list — LIST state variable on `transformWithState`
    * (`getHandle.getListState`): the keep-last-N event buffer (session
    * context windows, recent-history features), completing the state
    * surface next to ValueState (q_stream_tws), timers
    * (q_stream_tws_timer) and MapState (q_stream_tws_map). ListState's
    * append is a RocksDB merge operand — O(1) per event with no
    * read-modify-write of the buffer, which is what makes per-event
    * buffering affordable; the compaction to 3 entries bounds state at
    * O(N) per key. Emitted n_seen is strictly monotone per key, so
    * max(n_seen) recovers the final firing under any batch split; the
    * kept set itself depends only on the (event-time, id) total
    * order. */
  private def streamTwsList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = Streams.eventsStream(spark, dir)
      .select($"user_id", unix_micros($"ts").as("ts_us"),
        $"event_id", $"value").as[TlRow]
      .groupByKey(_.user_id)
      .transformWithState(new TwsLastN,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF()
    val collected = Streams.runToTable(spark, "tws_list", "update", out,
      confs = Seq(Streams.rocksDb))
    val w = Window.partitionBy($"user_id").orderBy($"n_seen".desc)
    collected
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"n_seen", $"last3_ids", $"last3_sum")
      .orderBy($"user_id")
  }

  private val streamTwsListSql = """
    WITH e AS (SELECT user_id,
                 epoch_us(date_trunc('microseconds', ts)) AS ts_us,
                 event_id, CAST(value AS DECIMAL(18,4)) AS v
               FROM events),
    r AS (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY ts_us DESC, event_id DESC) AS rn FROM e),
    n AS (SELECT user_id, count(*) AS n_seen FROM e GROUP BY user_id),
    k AS (SELECT user_id,
            string_agg(event_id, ',' ORDER BY ts_us DESC, event_id DESC)
              AS last3_ids,
            CAST(sum(v) AS DOUBLE) AS last3_sum
          FROM r WHERE rn <= 3 GROUP BY user_id)
    SELECT n.user_id, n.n_seen, k.last3_ids, k.last3_sum
    FROM n JOIN k ON n.user_id = k.user_id
    ORDER BY n.user_id"""

  val all: Seq[Q] = Seq(
    Q("q_stream_tws", streamTws _, streamStatefulSql),
    Q("q_stream_tws_timer", streamTwsTimer _, streamTwsTimerSql),
    Q("q_stream_tws_map", streamTwsMap _, streamTwsMapSql),
    Q("q_stream_tws_list", streamTwsList _, streamTwsListSql),
    Q("q_stream_tws_ttl", streamTwsTtl _, streamStatefulSql),
    Q("q_stream_dedup_last", streamDedupLast _, streamDedupLastSql),
    Q("q_stream_stateful", streamStateful _, streamStatefulSql),
    Q("q_stream_over", streamOver _, streamOverSql),
    Q("q_stream_zscore", streamZscore _, streamZscoreSql),
    Q("q_stream_attrib", streamAttrib _, streamAttribSql),
    Q("q_stream_count_window", streamCountWindow _, streamCountWindowSql),
    Q("q_stream_funnel", streamFunnel _,
      streamline.batch.Aggregates.aggFunnelSql),
    Q("q_stream_timeout", streamTimeout _, streamTimeoutSql),
    Q("q_join_temporal", joinTemporal _, joinTemporalSql),
    Q("q_stream_late", streamLate _, streamLateSql),
    Q("q_stream_late_side", streamLateSide _, streamLateSideSql))
}
