package streamline.batch

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import streamline.{Q, Tables}
import streamline.util.Det.tsSec

/** §2.15 general CEP: Kleene, relaxed-contiguity, optional, absence and
  * after-match-skip patterns over each user's event sequence.
  *
  * q_cep_pattern (Windows.scala) covers the fixed-length strict form
  * (`next` = lag window). The reference lineage's CEP library
  * (upstream `flink-libraries/flink-cep/`) also matches unbounded
  * quantifiers — `begin(click).oneOrMore.next(purchase).within(10m)` —
  * which no fixed-width window can express.
  *
  * Each pattern is one [[Pattern]] value: its state, its transition, the
  * expiry of entries whose `within` window closed, and its output
  * projection. The batch scan here ([[matches]]) and the streaming
  * operator (stream/CepStream.scala) run the same value, so the twins
  * share one match language. The batch scan is one shuffle on the key,
  * a local sort by (key, ts, id) and one fold over the iterator. No
  * per-key materialization (unlike groupByKey+flatMapGroups, which
  * buffers a whole key group): the fold's state is the armed starts, each
  * of which matches or expires `within` after it was armed — the
  * accounting Flink's CEP shared buffer does — so a hot key costs
  * O(starts per window) memory, and the followedBy fold O(1) amortized
  * work per event. Kleene holds one constant-size register per key.
  */
object Cep {

  // public: Spark's generated row (de)serializers instantiate these
  // from codegen'd classes, which cannot see private members.
  case class CepEv(user_id: Long, event_id: Long,
                   event_type: String, ts_us: Long)
  case class CepMatch(user_id: Long, n_clicks: Long,
                      first_click_id: Long, purchase_id: Long,
                      first_ts_us: Long, purchase_ts_us: Long)
  case class CepRel(user_id: Long, click_id: Long, purchase_id: Long,
                    click_ts_us: Long, purchase_ts_us: Long)
  case class CepAbs(user_id: Long, click_id: Long, click_ts_us: Long)
  case class CepTimes(user_id: Long, first_click_id: Long,
                      third_click_id: Long, purchase_id: Long,
                      first_ts_us: Long, purchase_ts_us: Long)
  case class CepOpt(user_id: Long, click_id: Long, view_id: Option[Long],
                    purchase_id: Long, click_ts_us: Long,
                    purchase_ts_us: Long)
  case class CepRun(user_id: Long, first_click_id: Long, n_clicks: Long,
                    purchase_id: Long, first_ts_us: Long,
                    purchase_ts_us: Long)

  /** One CEP pattern over one key's events, fed in (ts, id) order. `S`
    * is the per-key state, `O` the match row. A state that equals
    * `empty` holds nothing. */
  trait Pattern[S, O] extends Serializable {
    def empty: S
    def step(s: S, e: CepEv): (S, Seq[O])
    /** Drops the entries whose window closed strictly before `t`: no
      * event at or after `t` can complete them. Absence emits them
      * instead — their window closed with no `b`. */
    def expire(s: S, user: Long, t: Long): (S, Seq[O])
    /** The earliest time `expire` would change `s`, if any. */
    def nextExpiry(s: S): Option[Long]
    /** The output columns and row order of both twins. */
    def project(m: DataFrame): DataFrame

    /** One event of the fold: expire up to the event, then step. */
    final def feed(s: S, e: CepEv): (S, Seq[O]) = {
      val (live, expired) = expire(s, e.user_id, e.ts_us)
      val (next, out) = step(live, e)
      (next, expired ++ out)
    }
  }

  /** The batch scan of `p`: one shuffle on the key, a local sort by
    * (key, ts, id), then one fold. At a key change (and at the end of
    * the partition) the fold expires everything and resets: batch input
    * is complete, so absence at end of data is decided — the shortcut
    * streaming pays a watermark for. Public so the specs can drive it
    * with crafted events. */
  def matches[S, O <: Product : TypeTag](evs: Dataset[CepEv],
                                         p: Pattern[S, O]): Dataset[O] = {
    import evs.sparkSession.implicits._
    evs.repartition($"user_id")
      .sortWithinPartitions($"user_id", $"ts_us", $"event_id")
      .mapPartitions { it =>
        var user = Long.MinValue
        var s = p.empty
        def flush(): Seq[O] = {
          val out = p.expire(s, user, Long.MaxValue)._2
          s = p.empty
          out
        }
        it.flatMap { e =>
          val flushed = if (e.user_id != user) {
            val out = flush(); user = e.user_id; out
          } else Nil
          val (next, out) = p.feed(s, e)
          s = next
          flushed ++ out
        } ++ flush()
      }
  }

  private def sec(c: String, as: String): Column =
    tsSec(timestamp_micros(col(c))).as(as)

  /** NFA register: 0 = empty, n>0 = in a run of n clicks. */
  case class NfaSt(n: Long, firstId: Long, firstTs: Long)

  /** `click+ purchase within w`: a maximal consecutive run of ≥1 clicks
    * immediately followed by one purchase, whole match inside `w` of the
    * FIRST click (Flink CEP `within` spans the whole match). Any other
    * event type resets. Greedy and non-overlapping, matching the CEP
    * library's AFTER_MATCH_SKIP / strict-run semantics. */
  case class Kleene(withinUs: Long) extends Pattern[NfaSt, CepMatch] {
    def empty: NfaSt = NfaSt(0L, 0L, 0L)
    def step(st: NfaSt, e: CepEv): (NfaSt, Seq[CepMatch]) =
      if (e.event_type == "click") {
        if (st.n == 0L) (NfaSt(1L, e.event_id, e.ts_us), Nil)
        else (st.copy(n = st.n + 1), Nil)
      } else if (e.event_type == "purchase" && st.n > 0 &&
                 e.ts_us <= st.firstTs + withinUs) {
        (empty, Seq(CepMatch(e.user_id, st.n, st.firstId, e.event_id,
          st.firstTs, e.ts_us)))
      } else (empty, Nil)
    /** The identity: the window is checked at the purchase, and any
      * other event resets. So the register stays until the key's next
      * event, and a run that began before `t` is still extended by the
      * clicks that follow it, however long after. */
    def expire(st: NfaSt, user: Long, t: Long): (NfaSt, Seq[CepMatch]) =
      (st, Nil)
    def nextExpiry(st: NfaSt): Option[Long] = None
    def project(m: DataFrame): DataFrame =
      m.select(col("user_id"), col("n_clicks"), col("first_click_id"),
          col("purchase_id"), sec("first_ts_us", "first_click_ts"),
          sec("purchase_ts_us", "purchase_ts"))
        .orderBy("user_id", "purchase_id")
  }

  /** The armed starts of a relaxed-contiguity pattern, in arrival (= ts)
    * order. */
  case class Pending[T](pending: Vector[T])

  /** A pattern whose state is its armed starts, each live until
    * `withinUs` past its start time `start`. */
  abstract class Armed[T, O](withinUs: Long, start: T => Long)
      extends Pattern[Pending[T], O] {
    type St = Pending[T]
    def empty: St = Pending(Vector.empty)
    def expire(s: St, user: Long, t: Long): (St, Seq[O]) =
      (Pending(s.pending.dropWhile(start(_) + withinUs < t)), Nil)
    def nextExpiry(s: St): Option[Long] =
      s.pending.headOption.map(start(_) + withinUs)
    protected def arm(s: St, x: T): (St, Seq[O]) =
      (Pending(s.pending :+ x), Nil)
  }

  /** `click followedBy purchase within w` (relaxed contiguity: events of
    * other types are skipped). Every armed click matches the FIRST
    * purchase within `w` of it (Flink `followedBy` first-match
    * semantics); that purchase resolves and disarms them all. With
    * `any`, the ALL-matches quantifier (flink-cep `followedByAny`):
    * every armed click keeps matching EVERY purchase inside its window,
    * so all-matches costs output size, not state. */
  case class FollowedBy(withinUs: Long, any: Boolean = false)
      extends Armed[(Long, Long), CepRel](withinUs, _._2) {
    def step(s: St, e: CepEv): (St, Seq[CepRel]) =
      e.event_type match {
        case "click" => arm(s, (e.event_id, e.ts_us))
        case "purchase" =>
          (if (any) s else empty, s.pending.map { case (id, ts) =>
            CepRel(e.user_id, id, e.event_id, ts, e.ts_us)
          })
        case _ => (s, Nil)
      }
    def project(m: DataFrame): DataFrame =
      m.select(col("user_id"), col("click_id"), col("purchase_id"),
          sec("click_ts_us", "click_ts"),
          sec("purchase_ts_us", "purchase_ts"))
        .orderBy("user_id", "click_id", "purchase_id")
  }

  /** `click notFollowedBy purchase within w`: each click with NO
    * purchase in the next `w`. A purchase kills every armed click (they
    * are all in-window once expired ones are gone); a click is emitted
    * once its window provably closed — by a later event, the watermark,
    * or the end of the key. */
  case class Absence(withinUs: Long)
      extends Armed[(Long, Long), CepAbs](withinUs, _._2) {
    override def expire(s: St, user: Long, t: Long): (St, Seq[CepAbs]) = {
      val (closed, open) = s.pending.span(_._2 + withinUs < t)
      (Pending(open), closed.map { case (id, ts) => CepAbs(user, id, ts) })
    }
    def step(s: St, e: CepEv): (St, Seq[CepAbs]) =
      e.event_type match {
        case "click"    => arm(s, (e.event_id, e.ts_us))
        case "purchase" => (empty, Nil)
        case _          => (s, Nil)
      }
    def project(m: DataFrame): DataFrame =
      m.select(col("user_id"), col("click_id"),
          sec("click_ts_us", "click_ts"))
        .orderBy("user_id", "click_id")
  }

  /** `click (view?) purchase within w` — the OPTIONAL quantifier
    * (flink-cep `optional`): the followedBy spine, where each armed click
    * captures the first view after it (necessarily before the resolving
    * purchase, hence inside the window), or None. */
  case class Optional(withinUs: Long)
      extends Armed[(Long, Long, Option[Long]), CepOpt](withinUs, _._2) {
    def step(s: St, e: CepEv): (St, Seq[CepOpt]) =
      e.event_type match {
        case "click" => arm(s, (e.event_id, e.ts_us, None))
        case "view" =>
          (Pending(s.pending.map {
            case (id, ts, None) => (id, ts, Some(e.event_id))
            case filled         => filled
          }), Nil)
        case "purchase" =>
          (empty, s.pending.map { case (id, ts, v) =>
            CepOpt(e.user_id, id, v, e.event_id, ts, e.ts_us)
          })
        case _ => (s, Nil)
      }
    def project(m: DataFrame): DataFrame =
      m.select(col("user_id"), col("click_id"), col("view_id"),
          col("purchase_id"), sec("click_ts_us", "click_ts"),
          sec("purchase_ts_us", "purchase_ts"))
        .orderBy("user_id", "click_id")
  }

  /** Which completed matches an `a.oneOrMore followedBy b` emission
    * keeps (flink-cep AfterMatchSkipStrategy):
    *  - [[NoSkip]]: every completed match emits — for a non-greedy
    *    oneOrMore that is every prefix of every armed run.
    *  - [[SkipToNext]]: of the matches sharing a START event, only the
    *    first (shortest) emits.
    *  - [[SkipPastLastEvent]]: only the match anchored at the EARLIEST
    *    armed start emits; everything overlapping it is skipped, so
    *    consecutive emitted matches never overlap. */
  sealed trait AfterMatchSkip
  case object NoSkip extends AfterMatchSkip
  case object SkipToNext extends AfterMatchSkip
  case object SkipPastLastEvent extends AfterMatchSkip

  /** `click.oneOrMore followedBy purchase within w` with an explicit
    * greedy flag and after-match skip strategy (flink-cep
    * AfterMatchSkipStrategy, Quantifier's greedy / until). Armed entries
    * are (firstId, firstTs, clicks captured, open); every click extends
    * the open runs and opens its own; a purchase completes and disarms
    * all (the followedBy spine), and the strategy selects which
    * completions emit — the strategies change what EMITS, never what is
    * held. With `until`, a view closes every run to further clicks
    * (flink-cep `until`: the sentinel is not part of the match, and the
    * purchase still completes the run). */
  case class OneOrMore(withinUs: Long, greedy: Boolean,
                       skip: AfterMatchSkip, until: Boolean = false)
      extends Armed[(Long, Long, Long, Boolean), CepRun](withinUs, _._2) {
    def step(s: St, e: CepEv): (St, Seq[CepRun]) =
      e.event_type match {
        case "click" =>
          arm(Pending(s.pending.map { case (id, ts, n, open) =>
            (id, ts, if (open) n + 1 else n, open)
          }), (e.event_id, e.ts_us, 1L, true))
        case "view" if until =>
          (Pending(s.pending.map { case (id, ts, n, _) =>
            (id, ts, n, false)
          }), Nil)
        case "purchase" =>
          val starts =
            if (skip == SkipPastLastEvent) s.pending.take(1) else s.pending
          (empty, starts.flatMap { case (id, ts, n, _) =>
            val lengths: Seq[Long] =
              if (greedy) Seq(n) // maximal extent only
              else if (skip == SkipToNext) Seq(1L) // shortest same-start
              else 1L to n // every prefix
            lengths.map(k => CepRun(e.user_id, id, k, e.event_id, ts,
              e.ts_us))
          })
        case _ => (s, Nil)
      }
    def project(m: DataFrame): DataFrame =
      m.select(col("user_id"), col("first_click_id"), col("n_clicks"),
          col("purchase_id"), sec("first_ts_us", "first_click_ts"),
          sec("purchase_ts_us", "purchase_ts"))
        .orderBy("user_id", "first_click_id", "n_clicks", "purchase_id")
  }

  /** The last two clicks and the armed (firstId, firstTs, thirdId)
    * triples. */
  case class TimesSt(recent: Vector[(Long, Long)],
                     armed: Vector[(Long, Long, Long)])

  /** `click.times(3) followedBy purchase within w` — bounded repetition
    * with the relaxed contiguity Flink's `times(n)` defaults to
    * (repetitions are 3 SUCCESSIVE clicks in the click substream; other
    * event types interleave freely, but the combination is not free —
    * that would be `allowCombinations`). A triple arms when its third
    * click arrives inside the first click's window; the first purchase
    * after that, within `w` of the triple's FIRST click, completes it
    * and — first-match semantics, as in followedBy — disarms every armed
    * triple. An expired click can head no armable triple, and any triple
    * it sits in has an even older head, so it expires like a start. */
  case class Times(withinUs: Long) extends Pattern[TimesSt, CepTimes] {
    def empty: TimesSt = TimesSt(Vector.empty, Vector.empty)
    def step(s: TimesSt, e: CepEv): (TimesSt, Seq[CepTimes]) =
      e.event_type match {
        case "click" =>
          val armed = s.recent match {
            case Vector((fid, fts), _) if e.ts_us <= fts + withinUs =>
              s.armed :+ ((fid, fts, e.event_id))
            case _ => s.armed
          }
          (TimesSt((s.recent :+ ((e.event_id, e.ts_us))).takeRight(2),
            armed), Nil)
        case "purchase" =>
          (s.copy(armed = Vector.empty), s.armed.map {
            case (fid, fts, tid) =>
              CepTimes(e.user_id, fid, tid, e.event_id, fts, e.ts_us)
          })
        case _ => (s, Nil)
      }
    def expire(s: TimesSt, user: Long, t: Long): (TimesSt, Seq[CepTimes]) =
      (TimesSt(s.recent.dropWhile(_._2 + withinUs < t),
        s.armed.dropWhile(_._2 + withinUs < t)), Nil)
    def nextExpiry(s: TimesSt): Option[Long] =
      (s.recent.headOption.map(_._2) ++ s.armed.headOption.map(_._2))
        .minOption.map(_ + withinUs)
    def project(m: DataFrame): DataFrame =
      m.select(col("user_id"), col("first_click_id"),
          col("third_click_id"), col("purchase_id"),
          sec("first_ts_us", "first_click_ts"),
          sec("purchase_ts_us", "purchase_ts"))
        .orderBy("user_id", "first_click_id", "purchase_id")
  }

  private val tenMinUs = 10L * 60 * 1000 * 1000

  /** One day, not the family's usual 10 minutes: at 10 min (and even
    * 4 h) every matched run on the harness corpus has exactly one
    * click and every purchase exactly one armed start, so greedy =
    * noskip = skip_to_next and skip_past = greedy — the witnesses
    * would be vacuously equal. At 1 day the corpus distinguishes all
    * of them (134 multi-click runs, 692 greedy vs 846 noskip vs 558
    * skip_past rows, 11 until-truncated runs at sf0.01). */
  private val oneDayUs = 24L * 3600 * 1000 * 1000

  /** The patterns of the q_cep_* queries; each q_stream_cep_* twin runs
    * the same value. */
  val kleene: Kleene = Kleene(tenMinUs)
  val followedBy: FollowedBy = FollowedBy(tenMinUs)
  val followedByAny: FollowedBy = FollowedBy(tenMinUs, any = true)
  /** A day, not 10 minutes: a triple-click chain is a much rarer anchor
    * than a single event, and the 10-minute form is empty on the harness
    * corpus — a vacuous witness (tight windows are property-tested in
    * CepPropertySpec). */
  val times: Times = Times(oneDayUs)
  /** Four hours: at 10 min every match is view-less on the harness
    * corpus and the capture path would be vacuous. */
  val optional: Optional = Optional(4L * 3600 * 1000 * 1000)
  val absence: Absence = Absence(tenMinUs)
  val greedy: OneOrMore = OneOrMore(oneDayUs, greedy = true, NoSkip)
  val noSkip: OneOrMore = OneOrMore(oneDayUs, greedy = false, NoSkip)
  val skipToNext: OneOrMore = OneOrMore(oneDayUs, greedy = false, SkipToNext)
  val skipPast: OneOrMore =
    OneOrMore(oneDayUs, greedy = true, SkipPastLastEvent)
  val until: OneOrMore = OneOrMore(oneDayUs, greedy = true, NoSkip,
    until = true)

  private def cepEvents(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("ts_us"))
      .as[CepEv]
  }

  private def query[S, O <: Product : TypeTag](name: String,
      p: Pattern[S, O], sql: String): Q =
    Q(name, (spark: SparkSession, dir: String) =>
      p.project(matches(cepEvents(spark, dir), p).toDF()), sql)

  /** Oracle of q_cep_kleene (`click+ purchase within 10 min`): the
    * gaps-and-islands spelling — click islands via the
    * row_number-difference trick, joined to the purchase sitting at
    * exactly island-end + 1. */
  private[batch] val cepKleeneSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
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
    ORDER BY user_id, purchase_id"""

  /** Oracle of q_cep_followedby: per click, the first purchase strictly
    * after it in the per-user (ts, event_id) total order and within the
    * window — "first" via arg_min over that order's row number. */
  private val cepFollowedBySql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
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
    GROUP BY c.user_id, c.click_id, c.cts
    ORDER BY user_id, click_id"""

  /** Oracle of q_cep_absence — the abandoned-cart query at 100 TB. */
  private val cepAbsenceSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
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
    ORDER BY user_id, click_id"""

  /** Oracle of q_cep_followedby_any: the plain window join — every
    * (click, later purchase) pair inside the window, no arg_min. */
  private val cepFollowedByAnySql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
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
    ORDER BY user_id, click_id, purchase_id"""

  /** Oracle of q_cep_times: number the clicks per user (cn); a triple is
    * (cn, cn+2) with the third click inside the first's window; its
    * purchase is the first one after the third click (arg_min over rn)
    * within the window of the first. */
  private val cepTimesSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
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
    GROUP BY t.user_id, t.first_click_id, t.third_click_id, t.cts
    ORDER BY user_id, first_click_id, purchase_id"""

  /** Oracle of q_cep_optional: the q_cep_followedby match spine,
    * LEFT-extended by a correlated first-view-between lookup (NULL when
    * the optional stage did not occur). */
  private val cepOptionalSql = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
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

  /** The shared oracle spine: per click, its first in-window purchase
    * (rn-ordered), plus the per-user click numbering `cn` that lets
    * run lengths be computed by subtraction. */
  private val oneOrMoreCtes = """
    WITH e AS (SELECT user_id, event_id, event_type,
                 date_trunc('microseconds', ts) AS ts FROM events),
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
              GROUP BY c.user_id, c.click_id, c.cn, c.rn, c.cts),
    g AS (SELECT s.*,
            (SELECT count(*) FROM c c2
             WHERE c2.user_id = s.user_id
               AND c2.rn >= s.crn AND c2.rn < s.prn) AS n_clicks
          FROM spine s)"""

  /** q_cep_greedy: one match per armed click start, capturing the
    * MAXIMAL click run between the start and the resolving purchase. */
  private val cepGreedySql = oneOrMoreCtes + """
    SELECT user_id, click_id AS first_click_id, n_clicks, purchase_id,
      date_trunc('second', cts) AS first_click_ts,
      date_trunc('second', pts) AS purchase_ts
    FROM g ORDER BY user_id, first_click_id, n_clicks, purchase_id"""

  /** q_cep_noskip: one row per (start, run click) pair — prefix length
    * by click-number subtraction. */
  private val cepNoSkipSql = oneOrMoreCtes + """
    SELECT g.user_id AS user_id, g.click_id AS first_click_id,
      c2.cn - g.cn + 1 AS n_clicks, g.purchase_id,
      date_trunc('second', g.cts) AS first_click_ts,
      date_trunc('second', g.pts) AS purchase_ts
    FROM g JOIN c c2
      ON c2.user_id = g.user_id AND c2.cn >= g.cn AND c2.rn < g.prn
    ORDER BY user_id, first_click_id, n_clicks, purchase_id"""

  /** q_cep_skip_to_next: q_cep_noskip pruned to the shortest prefix per
    * start. */
  private val cepSkipToNextSql = oneOrMoreCtes + """
    SELECT user_id, click_id AS first_click_id,
      CAST(1 AS BIGINT) AS n_clicks, purchase_id,
      date_trunc('second', cts) AS first_click_ts,
      date_trunc('second', pts) AS purchase_ts
    FROM g ORDER BY user_id, first_click_id, n_clicks, purchase_id"""

  /** q_cep_skip_past: the greedy match set reduced per purchase to its
    * earliest-start row — one alert per episode, not one per suffix.
    * (The spine's first-purchase rule already guarantees no purchase
    * sits between an armed start and its match, which is exactly the
    * armed-at-that-purchase condition.) */
  private val cepSkipPastSql = oneOrMoreCtes + """
    SELECT user_id, arg_min(click_id, cn) AS first_click_id,
      arg_min(n_clicks, cn) AS n_clicks, purchase_id,
      date_trunc('second', arg_min(cts, cn)) AS first_click_ts,
      date_trunc('second', pts) AS purchase_ts
    FROM g GROUP BY user_id, purchase_id, pts
    ORDER BY user_id, first_click_id, n_clicks, purchase_id"""

  /** q_cep_until: the greedy count truncated at the first view after the
    * start (when that view precedes the resolving purchase). */
  private val cepUntilSql = oneOrMoreCtes + """
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
    query("q_cep_kleene", kleene, cepKleeneSql),
    query("q_cep_followedby", followedBy, cepFollowedBySql),
    query("q_cep_followedby_any", followedByAny, cepFollowedByAnySql),
    query("q_cep_times", times, cepTimesSql),
    query("q_cep_optional", optional, cepOptionalSql),
    query("q_cep_absence", absence, cepAbsenceSql),
    query("q_cep_greedy", greedy, cepGreedySql),
    query("q_cep_noskip", noSkip, cepNoSkipSql),
    query("q_cep_skip_to_next", skipToNext, cepSkipToNextSql),
    query("q_cep_skip_past", skipPast, cepSkipPastSql),
    query("q_cep_until", until, cepUntilSql))
}
