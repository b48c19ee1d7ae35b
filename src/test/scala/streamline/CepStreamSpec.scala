package streamline

import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import graft.SparkSuite
import streamline.batch.Cep
import streamline.batch.Cep.{CepEv, CepMatch, NfaSt}
import streamline.stream.CepStream
import streamline.stream.CepStream.CepState

/** Incremental semantics of the streaming CEP operator (SURVEY.md §2.15
  * stream form): watermark-gated buffering, cross-batch run carry, timer
  * re-arm, and state eviction once a key is drained and idle. */
class CepStreamSpec extends SparkSuite {

  private type KleeneState = CepState[NfaSt]
  private val kleeneOp = CepStream.update(Cep.kleene) _

  private val MIN_US = 60L * 1000 * 1000
  private val MIN_MS = 60L * 1000

  private def freshState(
      wmMs: Option[Long] = None): TestGroupState[KleeneState] =
    TestGroupState.create[KleeneState](
      optionalState = org.apache.spark.api.java.Optional.empty(),
      timeoutConf = GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = wmMs match {
        case Some(v) => org.apache.spark.api.java.Optional.of(v)
        case None => org.apache.spark.api.java.Optional.empty[Long]()
      },
      hasTimedOut = false)

  private def ev(id: Long, t: String, m: Long) = CepEv(1L, id, t, m * MIN_US)

  test("events above the watermark are buffered, not fed to the NFA") {
    val state = freshState(wmMs = Some(1 * MIN_MS))
    val out = kleeneOp(1L,
      Iterator(ev(1, "click", 0), ev(2, "click", 2), ev(3, "purchase", 3)),
      state).toList
    assert(out.isEmpty)
    // click@0 is sealed (≤ wm) and consumed by the NFA register; the
    // suffix above the watermark stays buffered verbatim.
    val s = state.get
    assert(s.st.n == 1L && s.st.firstId == 1L)
    assert(s.buf.map(_.event_id) == List(2L, 3L))
    // timer armed at the last watermark before the earliest buffered
    // event (2 min) is sealed
    assert(state.getTimeoutTimestampMs.get == 2 * MIN_MS - 1)
  }

  test("a run started in one batch completes in a later batch") {
    val state = freshState(wmMs = Some(5 * MIN_MS))
    kleeneOp(1L,
      Iterator(ev(1, "click", 0), ev(2, "click", 1)), state).toList
    val out = kleeneOp(1L,
      Iterator(ev(3, "purchase", 4)),
      freshWith(state.get, wmMs = 6 * MIN_MS)).toList
    assert(out == List(CepMatch(1L, 2L, 1L, 3L, 0L, 4 * MIN_US)))
  }

  test("buffered out-of-order events are replayed in (ts, id) order") {
    // arrivals: purchase@3 before click@1 in the same batch, all sealed
    val state = freshState(wmMs = Some(10 * MIN_MS))
    val out = kleeneOp(1L,
      Iterator(ev(3, "purchase", 3), ev(2, "click", 2), ev(1, "click", 1)),
      state).toList
    assert(out == List(CepMatch(1L, 2L, 1L, 3L, 1 * MIN_US, 3 * MIN_US)))
  }

  test("drained idle key with no open run removes its state") {
    val state = freshState(wmMs = Some(10 * MIN_MS))
    kleeneOp(1L,
      Iterator(ev(1, "click", 0), ev(2, "purchase", 1)), state).toList
    assert(!state.exists)
  }

  test("open run with an empty buffer is held with no timer") {
    // clicks only, all sealed: buffer drains, register stays open. The
    // register is O(1) per key and no timer is armed: only the key's
    // next sealed event can end or extend the run.
    val state = freshState(wmMs = Some(3 * MIN_MS))
    kleeneOp(1L,
      Iterator(ev(1, "click", 0), ev(2, "click", 1)), state).toList
    assert(state.exists, "open run must be retained")
    assert(!state.getTimeoutTimestampMs.isPresent, "no timer for a register")
  }

  test("open run whose within expired is kept until the next sealed event") {
    // The watermark has moved past first_ts + within: the register
    // stays, because a later click still extends the run (and so keeps
    // a fresh click from starting a new one).
    val state = freshState(wmMs = Some(3 * MIN_MS))
    kleeneOp(1L,
      Iterator(ev(1, "click", 0), ev(2, "click", 1)), state).toList
    val timedOut = freshWith(state.get, wmMs = 11 * MIN_MS)
    val out = kleeneOp(1L, Iterator.empty, timedOut).toList
    assert(out.isEmpty)
    assert(timedOut.exists && timedOut.get.st == NfaSt(2L, 1L, 0L),
      "register must outlive wm > first_ts + within")
  }

  test("a run's answer does not depend on how its input is split") {
    // run {click@1, click@12} began at 1 min, so purchase@13 is past
    // its window: the batch scan and a single delivery emit nothing.
    // Four deliveries, as (watermark, arrivals), must agree.
    val deliveries = List(
      0L -> List(ev(1, "click", 1)),
      (11 * MIN_MS + MIN_MS / 2) -> Nil,
      (11 * MIN_MS + MIN_MS / 2) -> List(ev(2, "click", 12),
        ev(3, "purchase", 13)),
      30 * MIN_MS -> Nil)
    var prev: Option[KleeneState] = None
    val out = deliveries.flatMap { case (wmMs, evs) =>
      val state = prev match {
        case Some(p) => freshWith(p, wmMs)
        case None => freshState(wmMs = Some(wmMs))
      }
      val o = kleeneOp(1L, evs.iterator, state).toList
      prev = if (state.exists) Some(state.get) else None
      o
    }
    assert(out.isEmpty, s"split delivery matched: $out")
  }

  private def freshWith(prev: KleeneState,
                        wmMs: Long): TestGroupState[KleeneState] =
    TestGroupState.create[KleeneState](
      optionalState = org.apache.spark.api.java.Optional.of(prev),
      timeoutConf = GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(wmMs),
      hasTimedOut = false)
}
