package streamline

import graft.SparkSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import streamline.batch.Cep
import Cep.{CepAbs, CepEv, CepRel}

/** Property tests for the relaxed-contiguity CEP automata: the
  * streaming-shaped scan implementations (armed-starts buffer,
  * head-eviction, boundary flush) must agree with OBVIOUS brute-force
  * definitions on random event sequences — random types, random
  * timestamps with heavy collisions, multiple users. Fixed seeds keep
  * CI deterministic (scalacheck core only; same convention as
  * PropertySpec). */
class CepPropertySpec extends SparkSuite {

  private val MIN = 60L * 1000 * 1000
  private val withinUs = 10 * MIN

  private def evsGen: Gen[List[CepEv]] = for {
    n <- Gen.choose(20, 60)
    evs <- Gen.listOfN(n, for {
      u <- Gen.choose(1L, 3L)
      t <- Gen.oneOf("click", "purchase", "view")
      // dense range forces equal-ts collisions and window-edge hits
      ts <- Gen.choose(0L, 25L).map(_ * MIN)
    } yield (u, t, ts))
  } yield evs.zipWithIndex.map { case ((u, t, ts), i) =>
    CepEv(u, i.toLong + 1, t, ts)
  }

  // the per-user (ts, id) total order the engine sorts by
  private def ordered(evs: Seq[CepEv], u: Long): Seq[CepEv] =
    evs.filter(_.user_id == u).sortBy(e => (e.ts_us, e.event_id))

  /** Brute force `a followedBy b within w`: for every click, the FIRST
    * purchase strictly after it in scan order and inside the window —
    * except that an intervening purchase (matched or not) disarms
    * every earlier click, so the candidate purchase must also be the
    * first purchase after the click, full stop. */
  private def refFollowedBy(evs: Seq[CepEv]): Set[CepRel] =
    evs.map(_.user_id).distinct.flatMap { u =>
      val seq = ordered(evs, u)
      seq.zipWithIndex.collect { case (c, ci) if c.event_type == "click" =>
        seq.drop(ci + 1).find(_.event_type == "purchase")
          .filter(p => p.ts_us <= c.ts_us + withinUs)
          .map(p => CepRel(u, c.event_id, p.event_id, c.ts_us, p.ts_us))
      }.flatten
    }.toSet

  /** Brute force `a notFollowedBy b within w`: clicks with NO purchase
    * after them (scan order) inside the window. */
  private def refAbsence(evs: Seq[CepEv]): Set[CepAbs] =
    evs.map(_.user_id).distinct.flatMap { u =>
      val seq = ordered(evs, u)
      seq.zipWithIndex.collect { case (c, ci) if c.event_type == "click" =>
        val killed = seq.drop(ci + 1).exists(p =>
          p.event_type == "purchase" && p.ts_us <= c.ts_us + withinUs)
        if (killed) None else Some(CepAbs(u, c.event_id, c.ts_us))
      }.flatten
    }.toSet

  test("followedBy scan agrees with brute force on random sequences") {
    val sp = spark; import sp.implicits._
    (1L to 8L).foreach { seed =>
      val evs = evsGen(Gen.Parameters.default, Seed(seed)).get
      val got = Cep.matches(evs.toDS(),
        Cep.FollowedBy(withinUs)).collect().toSet
      assert(got == refFollowedBy(evs), s"seed $seed")
    }
  }

  test("absence scan agrees with brute force on random sequences") {
    val sp = spark; import sp.implicits._
    (1L to 8L).foreach { seed =>
      val evs = evsGen(Gen.Parameters.default, Seed(seed)).get
      val got = Cep.matches(evs.toDS(),
        Cep.Absence(withinUs)).collect().toSet
      assert(got == refAbsence(evs), s"seed $seed")
    }
  }

  /** Brute force `a followedByAny b within w`: EVERY (click, later
    * purchase) pair inside the click's window — no disarming. */
  private def refFollowedByAny(evs: Seq[CepEv]): Set[CepRel] =
    evs.map(_.user_id).distinct.flatMap { u =>
      val seq = ordered(evs, u)
      seq.zipWithIndex.flatMap { case (c, ci) =>
        if (c.event_type != "click") Nil
        else seq.drop(ci + 1)
          .filter(p => p.event_type == "purchase" &&
            p.ts_us <= c.ts_us + withinUs)
          .map(p => CepRel(u, c.event_id, p.event_id, c.ts_us, p.ts_us))
      }
    }.toSet

  /** Brute force `a.times(3) followedBy b within w`: every pair of
    * clicks two apart in the per-user click subsequence (third inside
    * the first's window), completed by the FIRST purchase after the
    * third click iff it falls inside the first click's window (the
    * first purchase decides — purchases are ts-ordered). */
  private def refTimes(evs: Seq[CepEv]): Set[Cep.CepTimes] =
    evs.map(_.user_id).distinct.flatMap { u =>
      val seq = ordered(evs, u)
      val clicks = seq.zipWithIndex.filter(_._1.event_type == "click")
      clicks.sliding(3).filter(_.size == 3).flatMap { w =>
        val (c1, _) = w(0); val (c3, i3) = w(2)
        if (c3.ts_us > c1.ts_us + withinUs) None
        else seq.drop(i3 + 1).find(_.event_type == "purchase")
          .filter(p => p.ts_us <= c1.ts_us + withinUs)
          .map(p => Cep.CepTimes(u, c1.event_id, c3.event_id,
            p.event_id, c1.ts_us, p.ts_us))
      }
    }.toSet

  /** Brute force `a (m?) b within w`: the refFollowedBy spine with the
    * first in-between m-event captured (None when absent). The random
    * corpus already mixes "view" events in, so both branches of the
    * optional are exercised. */
  private def refOptional(evs: Seq[CepEv]): Set[Cep.CepOpt] =
    evs.map(_.user_id).distinct.flatMap { u =>
      val seq = ordered(evs, u)
      seq.zipWithIndex.collect { case (c, ci) if c.event_type == "click" =>
        val rest = seq.drop(ci + 1)
        rest.zipWithIndex.find(_._1.event_type == "purchase")
          .filter { case (p, _) => p.ts_us <= c.ts_us + withinUs }
          .map { case (p, pi) =>
            val view = rest.take(pi).find(_.event_type == "view")
            Cep.CepOpt(u, c.event_id, view.map(_.event_id), p.event_id,
              c.ts_us, p.ts_us)
          }
      }.flatten
    }.toSet

  test("optional scan agrees with brute force on random sequences") {
    val sp = spark; import sp.implicits._
    (1L to 8L).foreach { seed =>
      val evs = evsGen(Gen.Parameters.default, Seed(seed)).get
      val got = Cep.matches(evs.toDS(),
        Cep.Optional(withinUs)).collect().toSet
      assert(got == refOptional(evs), s"seed $seed")
    }
  }

  test("optional's match spine is exactly followedBy") {
    val sp = spark; import sp.implicits._
    val evs = evsGen(Gen.Parameters.default, Seed(7L)).get
    val opt = Cep.matches(evs.toDS(), Cep.Optional(withinUs)).collect()
      .map(o => (o.click_id, o.purchase_id)).toSet
    val fb = Cep.matches(evs.toDS(), Cep.FollowedBy(withinUs)).collect()
      .map(r => (r.click_id, r.purchase_id)).toSet
    assert(opt == fb)
  }

  test("followedByAny scan agrees with brute force on random sequences") {
    val sp = spark; import sp.implicits._
    (1L to 8L).foreach { seed =>
      val evs = evsGen(Gen.Parameters.default, Seed(seed)).get
      val got = Cep.matches(evs.toDS(),
        Cep.FollowedBy(withinUs, any = true)).collect().toSet
      assert(got == refFollowedByAny(evs), s"seed $seed")
    }
  }

  test("times(3) scan agrees with brute force on random sequences") {
    val sp = spark; import sp.implicits._
    (1L to 8L).foreach { seed =>
      val evs = evsGen(Gen.Parameters.default, Seed(seed)).get
      val got = Cep.matches(evs.toDS(),
        Cep.Times(withinUs)).collect().toSet
      assert(got == refTimes(evs), s"seed $seed")
    }
  }

  test("followedByAny is a superset of followedBy (first match is a match)") {
    val sp = spark; import sp.implicits._
    val evs = evsGen(Gen.Parameters.default, Seed(42L)).get
    val any = Cep.matches(evs.toDS(),
      Cep.FollowedBy(withinUs, any = true)).collect().toSet
    val first = Cep.matches(evs.toDS(),
      Cep.FollowedBy(withinUs)).collect().toSet
    assert(first.subsetOf(any))
  }

  /** Brute force `a.oneOrMore followedBy b within w` under a skip
    * strategy: the refFollowedBy spine (first purchase after the
    * start, inside the window) with the captured run = clicks between
    * start (inclusive) and that purchase. Emission per strategy:
    * greedy → maximal run only; non-greedy NO_SKIP → every prefix;
    * non-greedy SKIP_TO_NEXT → shortest prefix; greedy
    * SKIP_PAST_LAST_EVENT → per purchase, only the earliest start. */
  private def refOneOrMore(evs: Seq[CepEv], greedy: Boolean,
                           skip: Cep.AfterMatchSkip): Set[Cep.CepRun] = {
    val spine = evs.map(_.user_id).distinct.flatMap { u =>
      val seq = ordered(evs, u)
      seq.zipWithIndex.collect { case (c, ci) if c.event_type == "click" =>
        val rest = seq.drop(ci + 1)
        rest.zipWithIndex.find(_._1.event_type == "purchase")
          .filter { case (p, _) => p.ts_us <= c.ts_us + withinUs }
          .map { case (p, pi) =>
            val n = 1L + rest.take(pi).count(_.event_type == "click")
            (u, c, p, n)
          }
      }.flatten
    }
    val kept = skip match {
      case Cep.SkipPastLastEvent =>
        spine.groupBy { case (u, _, p, _) => (u, p.event_id) }
          .values.map(_.minBy { case (_, c, _, _) => (c.ts_us, c.event_id) })
          .toSeq
      case _ => spine
    }
    kept.flatMap { case (u, c, p, n) =>
      val ks: Seq[Long] =
        if (greedy) Seq(n)
        else skip match {
          case Cep.SkipToNext => Seq(1L)
          case _              => 1L to n
        }
      ks.map(k => Cep.CepRun(u, c.event_id, k, p.event_id, c.ts_us,
        p.ts_us))
    }.toSet
  }

  /** Brute force `a.oneOrMore.until(u) followedBy b within w`: the
    * greedy spine with the run truncated at the first view after the
    * start (when it precedes the purchase). */
  private def refUntil(evs: Seq[CepEv]): Set[Cep.CepRun] =
    evs.map(_.user_id).distinct.flatMap { u =>
      val seq = ordered(evs, u)
      seq.zipWithIndex.collect { case (c, ci) if c.event_type == "click" =>
        val rest = seq.drop(ci + 1)
        rest.zipWithIndex.find(_._1.event_type == "purchase")
          .filter { case (p, _) => p.ts_us <= c.ts_us + withinUs }
          .map { case (p, pi) =>
            val stop = rest.take(pi).zipWithIndex
              .find(_._1.event_type == "view").map(_._2)
              .getOrElse(pi)
            val n = 1L + rest.take(stop).count(_.event_type == "click")
            Cep.CepRun(u, c.event_id, n, p.event_id, c.ts_us, p.ts_us)
          }
      }.flatten
    }.toSet

  private val until: Cep.OneOrMore =
    Cep.OneOrMore(withinUs, greedy = true, Cep.NoSkip, until = true)

  private val strategies = Seq[(Boolean, Cep.AfterMatchSkip)](
    (true, Cep.NoSkip), (false, Cep.NoSkip), (false, Cep.SkipToNext),
    (true, Cep.SkipPastLastEvent))

  test("oneOrMore agrees with brute force under every skip strategy") {
    val sp = spark; import sp.implicits._
    strategies.foreach { case (greedy, skip) =>
      (1L to 6L).foreach { seed =>
        val evs = evsGen(Gen.Parameters.default, Seed(seed)).get
        val got = Cep.matches(evs.toDS(),
          Cep.OneOrMore(withinUs, greedy, skip)).collect().toSet
        assert(got == refOneOrMore(evs, greedy, skip),
          s"seed $seed greedy=$greedy skip=$skip")
      }
    }
  }

  test("until agrees with brute force on random sequences") {
    val sp = spark; import sp.implicits._
    (1L to 8L).foreach { seed =>
      val evs = evsGen(Gen.Parameters.default, Seed(seed)).get
      val got = Cep.matches(evs.toDS(), until).collect().toSet
      assert(got == refUntil(evs), s"seed $seed")
    }
  }

  test("skip-strategy lattice: skip_past ⊆ greedy ⊆ noskip; skip_to_next = noskip shortest") {
    val sp = spark; import sp.implicits._
    val evs = evsGen(Gen.Parameters.default, Seed(5L)).get
    def run(g: Boolean, s: Cep.AfterMatchSkip) =
      Cep.matches(evs.toDS(),
        Cep.OneOrMore(withinUs, g, s)).collect().toSet
    val greedy = run(true, Cep.NoSkip)
    val noskip = run(false, Cep.NoSkip)
    val toNext = run(false, Cep.SkipToNext)
    val past = run(true, Cep.SkipPastLastEvent)
    assert(past.subsetOf(greedy))
    assert(greedy.subsetOf(noskip))
    assert(toNext == noskip.groupBy(r => (r.user_id, r.first_click_id))
      .values.map(_.minBy(_.n_clicks)).toSet)
    // until never lengthens a run beyond greedy's
    val untilRuns = Cep.matches(evs.toDS(), until).collect()
      .map(r => (r.first_click_id, r.n_clicks)).toMap
    val greedyRuns = greedy.map(r => (r.first_click_id, r.n_clicks)).toMap
    untilRuns.foreach { case (id, n) => assert(n <= greedyRuns(id)) }
  }

  test("followedBy and absence partition the clicks with a purchase-window complement") {
    val sp = spark; import sp.implicits._
    // every click either matches some purchase (followedBy), survives
    // (absence), or was armed when a LATE purchase arrived outside its
    // window — with the same within, matched ∩ absent = ∅ and
    // matched ∪ absent = clicks whose first following purchase decides
    // inside/outside the window (i.e. all clicks)
    val evs = evsGen(Gen.Parameters.default, Seed(99L)).get
    val matched = Cep.matches(evs.toDS(),
      Cep.FollowedBy(withinUs)).collect().map(_.click_id).toSet
    val absent = Cep.matches(evs.toDS(),
      Cep.Absence(withinUs)).collect().map(_.click_id).toSet
    val clicks = evs.filter(_.event_type == "click").map(_.event_id).toSet
    assert((matched & absent).isEmpty)
    assert((matched | absent) == clicks)
  }
}
