package streamline.stream

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import streamline.Q
import streamline.batch.Cep
import streamline.batch.Cep.{CepEv, Pattern}

/** §2.15 CEP on an unbounded stream — the keyed-state NFA form of the
  * reference lineage's CEP library (upstream `flink-libraries/flink-cep/`,
  * `NFAOperator` over keyed state): each batch pattern of batch/Cep.scala
  * run as an incremental operator whose per-key state is the pattern's
  * state plus only the not-yet-orderable suffix of events.
  *
  * Out-of-order handling is Flink CEP's event-time contract: buffer
  * arrivals until the watermark passes them, then feed them to the
  * pattern in (ts, id) order through the batch scan's fold. The watermark
  * is therefore also the state bound — the buffer holds at most one
  * watermark-delay of events per key, and every armed start expires at
  * the watermark once its `within` window closed. The exception is
  * Kleene's register, one constant-size value per key, which stays until
  * the key's next event. So the operator can run forever at 100 TB:
  * state is (delay-window events + window-bounded starts) per key,
  * evicted by pure watermark progress.
  *
  * On finite input a twin's result is its batch query's result
  * restricted to the matches the final watermark sealed — which is each
  * oracle below. The split into micro-batches does not change it.
  *
  * [[update]] is the engine's one keyed event-time operator: the running
  * folds of q_stream_over, q_stream_zscore, q_stream_attrib and
  * q_stream_count_window and the as-of joins of q_join_temporal and
  * q_stream_connect (Stateful.scala, Connect.scala) are Patterns too,
  * built through [[twin]], so the watermark and timer policy lives here
  * only. The one other event-time timer is q_stream_timeout's idle
  * flush.
  */
object CepStream {

  /** Per-key operator state: the unsealed buffer (events strictly above
    * the watermark at the last invocation) plus the pattern's state. */
  case class CepState[S](buf: Vector[CepEv], st: S)

  /** Exact µs from a Timestamp's ms + nanos, floored: a pre-1970 time
    * with a fractional second stays below its whole second. */
  private[stream] def micros(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** Stream row: keeps the watermarked `ts` column itself (the analyzer
    * requires the event-time column to reach the stateful operator for
    * EventTimeTimeout). */
  case class CepRow(user_id: Long, event_id: Long, event_type: String,
                    ts: java.sql.Timestamp, value: Double) {
    def toEv: CepEv = CepEv(user_id, event_id, event_type, micros(ts), value)
  }

  /** The streaming operator of `p`, per key: merge the buffered suffix
    * with this batch's arrivals, feed the sealed prefix (ts ≤ watermark)
    * through the pattern's fold in (ts, id) order, then expire at the
    * watermark — every event fed later has ts above it. The state is
    * removed once nothing is buffered or held. Otherwise a timer at the
    * last watermark at which min(buffer head, earliest expiry) is still
    * pending forces a pass at the first watermark that resolves it, with
    * no new data for the key (Spark fires event-time timers on
    * `timer < watermark`, FlatMapGroupsWithStateExec
    * .processTimedOutState, and accepts timers from the current
    * watermark up, if positive: GroupStateImpl.setTimeoutTimestamp). */
  private[streamline] def update[S, O](p: Pattern[S, O])(uid: Long,
      rows: Iterator[CepEv], state: GroupState[CepState[S]]): Iterator[O] = {
    val prev = state.getOption.getOrElse(CepState(Vector.empty, p.empty))
    // No watermark in a unit-test harness ⇒ 0: everything stays buffered.
    val wmMs = try state.getCurrentWatermarkMs()
    catch { case _: UnsupportedOperationException => 0L }
    val wmUs = wmMs * 1000L
    val (ready, future) = (prev.buf ++ rows)
      .sortBy(e => (e.ts_us, e.event_id)).partition(_.ts_us <= wmUs)
    val out = Vector.newBuilder[O]
    val fed = ready.foldLeft(prev.st) { (s, e) =>
      val (next, o) = p.feed(s, e)
      out ++= o
      next
    }
    val (st, expired) = p.expire(fed, uid, wmUs)
    out ++= expired
    if (future.isEmpty && st == p.empty) state.remove()
    else {
      state.update(CepState(future, st))
      // The last watermark ms at which the head is still pending. A
      // buffered event at µs u is sealed from wm = ceil_ms(u), so its
      // timer is ceil_ms(u) - 1 = floorDiv(u - 1, 1000); an expiry at µs
      // e applies from wm = floor_ms(e) + 1, so its timer is floor_ms(e).
      (future.headOption.map(e => math.floorDiv(e.ts_us - 1L, 1000L)) ++
        p.nextExpiry(st).map(math.floorDiv(_, 1000L))).minOption
        .foreach(ms => state.setTimeoutTimestamp(
          math.max(ms, math.max(wmMs, 1L))))
    }
    out.result().iterator
  }

  /** The streaming twin of `p`'s batch query: the event stream under a
    * 10-minute watermark, keyed by user through [[update]], drained into
    * the memory sink `name` without its `q_stream_` prefix and
    * projected as the batch query is. */
  private[stream] def twin[S: TypeTag, O <: Product : TypeTag](name: String,
      p: Pattern[S, O], sql: String): Q =
    Q(name, (spark: SparkSession, dir: String) => {
      import spark.implicits._
      val matches = Streams.eventsStream(spark, dir)
        .withWatermark("ts", "10 minutes")
        .select($"user_id", $"event_id", $"event_type", $"ts", $"value")
        .as[CepRow]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
          (uid: Long, rows: Iterator[CepRow], state: GroupState[CepState[S]]) =>
            update(p)(uid, rows.map(_.toEv), state)
        }
        .toDF()
      p.project(Streams.runToTable(spark, name.stripPrefix("q_stream_"),
        "append", matches))
    }, sql)

  /** Oracle: the batch Kleene result (gaps-and-islands spelling, same as
    * q_cep_kleene) restricted to purchases the final watermark sealed —
    * the streaming operator only feeds the pattern events at or below the
    * watermark, and a match is emitted on its purchase event. */
  private val streamCepSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
    wm AS (SELECT date_trunc('millisecond', max(ts))
             - INTERVAL 10 MINUTE AS w FROM events),
    o AS (SELECT user_id, event_id, event_type, ts,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rn
          FROM e),
    isl AS (SELECT user_id, event_id, ts, rn,
              rn - row_number() OVER (PARTITION BY user_id
                                      ORDER BY rn) AS grp
            FROM o WHERE event_type = 'click'),
    runs AS (SELECT user_id, grp, count(*) AS n_clicks,
               min(ts) AS first_click_ts,
               arg_min(event_id, rn) AS first_click_id,
               max(rn) AS end_rn
             FROM isl GROUP BY user_id, grp),
    p AS (SELECT user_id, event_id, ts, rn FROM o
          WHERE event_type = 'purchase')
    SELECT r.user_id AS user_id, n_clicks, first_click_id,
      p.event_id AS purchase_id,
      date_trunc('second', first_click_ts) AS first_click_ts,
      date_trunc('second', p.ts) AS purchase_ts
    FROM runs r JOIN p ON r.user_id = p.user_id AND p.rn = r.end_rn + 1
    WHERE p.ts <= first_click_ts + INTERVAL 10 MINUTE
      AND p.ts <= (SELECT w FROM wm)
    ORDER BY user_id, purchase_id"""

  private val streamCepFollowedBySql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
    wm AS (SELECT date_trunc('millisecond', max(ts))
             - INTERVAL 10 MINUTE AS w FROM events),
    o AS (SELECT user_id, event_id, event_type, ts,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rn
          FROM e),
    c AS (SELECT user_id, event_id AS click_id, ts AS cts, rn FROM o
          WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS pts, rn FROM o
          WHERE event_type = 'purchase')
    SELECT c.user_id AS user_id, c.click_id,
      arg_min(p.purchase_id, p.rn) AS purchase_id,
      date_trunc('second', c.cts) AS click_ts,
      date_trunc('second', arg_min(p.pts, p.rn)) AS purchase_ts
    FROM c JOIN p
      ON c.user_id = p.user_id AND p.rn > c.rn
     AND p.pts <= c.cts + INTERVAL 10 MINUTE
    WHERE p.pts <= (SELECT w FROM wm)
    GROUP BY c.user_id, c.click_id, c.cts
    ORDER BY user_id, click_id"""

  private val streamCepFollowedByAnySql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
    wm AS (SELECT date_trunc('millisecond', max(ts))
             - INTERVAL 10 MINUTE AS w FROM events),
    o AS (SELECT user_id, event_id, event_type, ts,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rn
          FROM e),
    c AS (SELECT user_id, event_id AS click_id, ts AS cts, rn FROM o
          WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS pts, rn FROM o
          WHERE event_type = 'purchase')
    SELECT c.user_id AS user_id, c.click_id, p.purchase_id,
      date_trunc('second', c.cts) AS click_ts,
      date_trunc('second', p.pts) AS purchase_ts
    FROM c JOIN p
      ON c.user_id = p.user_id AND p.rn > c.rn
     AND p.pts <= c.cts + INTERVAL 10 MINUTE
    WHERE p.pts <= (SELECT w FROM wm)
    ORDER BY user_id, click_id, purchase_id"""

  private val streamCepOptionalSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
    wm AS (SELECT date_trunc('millisecond', max(ts))
             - INTERVAL 10 MINUTE AS w FROM events),
    o AS (SELECT user_id, event_id, event_type, ts,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rn
          FROM e),
    c AS (SELECT user_id, event_id AS click_id, ts AS cts, rn FROM o
          WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS pts, rn FROM o
          WHERE event_type = 'purchase'),
    m AS (SELECT c.user_id AS user_id, c.click_id, c.rn AS crn,
            c.cts AS cts,
            arg_min(p.purchase_id, p.rn) AS purchase_id,
            arg_min(p.pts, p.rn) AS pts,
            min(p.rn) AS prn
          FROM c JOIN p
            ON c.user_id = p.user_id AND p.rn > c.rn
           AND p.pts <= c.cts + INTERVAL 4 HOUR
          WHERE p.pts <= (SELECT w FROM wm)
          GROUP BY c.user_id, c.click_id, c.rn, c.cts)
    SELECT m.user_id, m.click_id,
      (SELECT v.event_id FROM o v
       WHERE v.user_id = m.user_id AND v.event_type = 'view'
         AND v.rn > m.crn AND v.rn < m.prn
       ORDER BY v.rn LIMIT 1) AS view_id,
      m.purchase_id,
      date_trunc('second', m.cts) AS click_ts,
      date_trunc('second', m.pts) AS purchase_ts
    FROM m ORDER BY user_id, click_id"""

  private val streamCepTimesSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
    wm AS (SELECT date_trunc('millisecond', max(ts))
             - INTERVAL 10 MINUTE AS w FROM events),
    o AS (SELECT user_id, event_id, event_type, ts,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rn
          FROM e),
    c AS (SELECT user_id, event_id, ts, rn,
            row_number() OVER (PARTITION BY user_id ORDER BY rn) AS cn
          FROM o WHERE event_type = 'click'),
    t AS (SELECT c1.user_id, c1.event_id AS first_click_id,
            c1.ts AS cts, c3.event_id AS third_click_id, c3.rn AS arn
          FROM c c1 JOIN c c3
            ON c1.user_id = c3.user_id AND c3.cn = c1.cn + 2
          WHERE c3.ts <= c1.ts + INTERVAL 1 DAY),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS pts, rn FROM o
          WHERE event_type = 'purchase')
    SELECT t.user_id AS user_id, t.first_click_id, t.third_click_id,
      arg_min(p.purchase_id, p.rn) AS purchase_id,
      date_trunc('second', t.cts) AS first_click_ts,
      date_trunc('second', arg_min(p.pts, p.rn)) AS purchase_ts
    FROM t JOIN p
      ON t.user_id = p.user_id AND p.rn > t.arn
     AND p.pts <= t.cts + INTERVAL 1 DAY
    WHERE p.pts <= (SELECT w FROM wm)
    GROUP BY t.user_id, t.first_click_id, t.third_click_id, t.cts
    ORDER BY user_id, first_click_id, purchase_id"""

  /** Absence is proven only for clicks whose window end the final
    * watermark strictly passed — later data could still kill the
    * rest. */
  private val streamCepAbsenceSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
    wm AS (SELECT date_trunc('millisecond', max(ts))
             - INTERVAL 10 MINUTE AS w FROM events),
    o AS (SELECT user_id, event_id, event_type, ts,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rn
          FROM e),
    c AS (SELECT user_id, event_id AS click_id, ts AS cts, rn FROM o
          WHERE event_type = 'click'),
    p AS (SELECT user_id, ts AS pts, rn FROM o
          WHERE event_type = 'purchase')
    SELECT c.user_id AS user_id, c.click_id,
      date_trunc('second', c.cts) AS click_ts
    FROM c
    WHERE NOT EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = c.user_id AND p.rn > c.rn
        AND p.pts <= c.cts + INTERVAL 10 MINUTE)
      AND c.cts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
    ORDER BY user_id, click_id"""

  /** The batch family's shared spine CTEs with the sealed-purchase
    * restriction (sealing is a pure ts cutoff, so filtering before
    * arg_min ≡ after: an unsealed first purchase implies every later
    * one is unsealed too). */
  private val streamOneOrMoreCtes = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
    wm AS (SELECT date_trunc('millisecond', max(ts))
             - INTERVAL 10 MINUTE AS w FROM events),
    o AS (SELECT user_id, event_id, event_type, ts,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rn
          FROM e),
    c AS (SELECT user_id, event_id AS click_id, ts AS cts, rn,
            row_number() OVER (PARTITION BY user_id ORDER BY rn) AS cn
          FROM o WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS pts, rn FROM o
          WHERE event_type = 'purchase'),
    spine AS (SELECT c.user_id, c.click_id, c.cn, c.rn AS crn, c.cts,
                arg_min(p.purchase_id, p.rn) AS purchase_id,
                arg_min(p.pts, p.rn) AS pts, min(p.rn) AS prn
              FROM c JOIN p
                ON c.user_id = p.user_id AND p.rn > c.rn
               AND p.pts <= c.cts + INTERVAL 1 DAY
              WHERE p.pts <= (SELECT w FROM wm)
              GROUP BY c.user_id, c.click_id, c.cn, c.rn, c.cts),
    g AS (SELECT s.*,
            (SELECT count(*) FROM c c2
             WHERE c2.user_id = s.user_id
               AND c2.rn >= s.crn AND c2.rn < s.prn) AS n_clicks
          FROM spine s)"""

  private val streamCepGreedySql = streamOneOrMoreCtes + """
    SELECT user_id, click_id AS first_click_id, n_clicks, purchase_id,
      date_trunc('second', cts) AS first_click_ts,
      date_trunc('second', pts) AS purchase_ts
    FROM g ORDER BY user_id, first_click_id, n_clicks, purchase_id"""

  private val streamCepNoSkipSql = streamOneOrMoreCtes + """
    SELECT g.user_id AS user_id, g.click_id AS first_click_id,
      c2.cn - g.cn + 1 AS n_clicks, g.purchase_id,
      date_trunc('second', g.cts) AS first_click_ts,
      date_trunc('second', g.pts) AS purchase_ts
    FROM g JOIN c c2
      ON c2.user_id = g.user_id AND c2.cn >= g.cn AND c2.rn < g.prn
    ORDER BY user_id, first_click_id, n_clicks, purchase_id"""

  private val streamCepSkipToNextSql = streamOneOrMoreCtes + """
    SELECT user_id, click_id AS first_click_id,
      CAST(1 AS BIGINT) AS n_clicks, purchase_id,
      date_trunc('second', cts) AS first_click_ts,
      date_trunc('second', pts) AS purchase_ts
    FROM g ORDER BY user_id, first_click_id, n_clicks, purchase_id"""

  private val streamCepSkipPastSql = streamOneOrMoreCtes + """
    SELECT user_id, arg_min(click_id, cn) AS first_click_id,
      arg_min(n_clicks, cn) AS n_clicks, purchase_id,
      date_trunc('second', arg_min(cts, cn)) AS first_click_ts,
      date_trunc('second', pts) AS purchase_ts
    FROM g GROUP BY user_id, purchase_id, pts
    ORDER BY user_id, first_click_id, n_clicks, purchase_id"""

  private val streamCepUntilSql = streamOneOrMoreCtes + """
    SELECT s.user_id AS user_id, s.click_id AS first_click_id,
      (SELECT count(*) FROM c c2
       WHERE c2.user_id = s.user_id AND c2.rn >= s.crn
         AND c2.rn < least(coalesce(
           (SELECT min(v.rn) FROM o v
            WHERE v.user_id = s.user_id AND v.event_type = 'view'
              AND v.rn > s.crn), s.prn), s.prn)) AS n_clicks,
      s.purchase_id,
      date_trunc('second', s.cts) AS first_click_ts,
      date_trunc('second', s.pts) AS purchase_ts
    FROM spine s
    ORDER BY user_id, first_click_id, n_clicks, purchase_id"""

  val all: Seq[Q] = Seq(
    twin("q_stream_cep", Cep.kleene, streamCepSql),
    twin("q_stream_cep_greedy", Cep.greedy, streamCepGreedySql),
    twin("q_stream_cep_noskip", Cep.noSkip, streamCepNoSkipSql),
    twin("q_stream_cep_skip_to_next", Cep.skipToNext,
      streamCepSkipToNextSql),
    twin("q_stream_cep_skip_past", Cep.skipPast, streamCepSkipPastSql),
    twin("q_stream_cep_until", Cep.until, streamCepUntilSql),
    twin("q_stream_cep_followedby", Cep.followedBy, streamCepFollowedBySql),
    twin("q_stream_cep_followedby_any", Cep.followedByAny,
      streamCepFollowedByAnySql),
    twin("q_stream_cep_times", Cep.times, streamCepTimesSql),
    twin("q_stream_cep_optional", Cep.optional, streamCepOptionalSql),
    twin("q_stream_cep_absence", Cep.absence, streamCepAbsenceSql))
}
