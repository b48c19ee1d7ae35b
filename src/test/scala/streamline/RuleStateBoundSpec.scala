package streamline

import graft.SparkSuite
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import streamline.batch.Cep.CepEv
import streamline.stream.{CepStream, Connect}
import streamline.stream.CepStream.CepState
import streamline.stream.Stateful.AsOfSt

/** Broadcast-state bound of the connected-streams operator (SURVEY.md
  * §2.16), `CepStream.update(Connect.Rules)`: state retains exactly what
  * future data can still need under the event-time watermark — the
  * buffered events above the watermark, plus the newest sealed rule and
  * the data rows held at one µs — and data rows are matched against the
  * rule in effect at their event time, including rows that arrive in a
  * later batch than the rules they match. Times are in ms. */
class RuleStateBoundSpec extends SparkSuite {

  private type St = CepState[AsOfSt]

  private def state(wmMs: Option[Long],
                    prev: Option[St] = None): TestGroupState[St] =
    TestGroupState.create[St](
      optionalState = prev match {
        case Some(s) => org.apache.spark.api.java.Optional.of(s)
        case None => org.apache.spark.api.java.Optional.empty[St]()
      },
      timeoutConf = GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = wmMs match {
        case Some(v) => org.apache.spark.api.java.Optional.of(v)
        case None => org.apache.spark.api.java.Optional.empty[Long]()
      },
      hasTimedOut = false)

  private def run(st: TestGroupState[St], evs: CepEv*) =
    CepStream.update(Connect.Rules)(1L, evs.iterator, st).toList

  private def ctrl(id: Long, tsMs: Long, thr: Double) =
    CepEv(1L, id, "error", tsMs * 1000L, thr)
  private def data(id: Long, tsMs: Long, v: Double) =
    CepEv(1L, id, "view", tsMs * 1000L, v)

  test("without a watermark, no rule is pruned (all still reachable)") {
    val st = state(wmMs = None)
    run(st, ctrl(1, 100, 5.0), ctrl(2, 200, 7.0), ctrl(3, 150, 6.0))
    assert(st.get.buf.map(_.event_id) == Vector(1L, 3L, 2L))
    assert(st.get.st == AsOfSt(None, Vector.empty))
  }

  test("watermark seals history down to one effective rule + live rules") {
    // rules at 100/150/200 ms; watermark at 160 ms: the 150 ms rule is
    // the newest sealed one (any future row has ts > 160 ms, so the
    // 100 ms rule can never again be "latest at or before"), the 200 ms
    // rule is still buffered.
    val st = state(wmMs = Some(160L))
    run(st, ctrl(1, 100, 5.0), ctrl(2, 200, 7.0), ctrl(3, 150, 6.0))
    assert(st.get.st == AsOfSt(Some(ctrl(3, 150, 6.0)), Vector.empty))
    assert(st.get.buf == Vector(ctrl(2, 200, 7.0)))
  }

  test("rules apply by event time, not batch arrival order") {
    // data at t=120 must see the t=100 rule (thr 5) even though the
    // t=200 rule arrives in the same batch.
    val out = run(state(wmMs = Some(1000L)),
      ctrl(1, 100, 5.0), ctrl(2, 200, 50.0), data(10, 120, 9.0))
    assert(out.map(o => (o.event_id, o.rule_id, o.threshold)) ==
      List((10L, 1L, 5.0)))
  }

  test("late data in a later batch still matches the older retained rule") {
    // Batch 1 publishes rules at 100 and 200 under a watermark of 110;
    // batch 2 delivers a data row at t=120 — it must match the t=100
    // rule, which latest-only retention would have discarded.
    val st1 = state(wmMs = Some(110L))
    run(st1, ctrl(1, 100, 5.0), ctrl(2, 200, 50.0))
    val out = run(state(wmMs = Some(1000L), Some(st1.get)), data(10, 120, 9.0))
    assert(out.map(o => (o.event_id, o.rule_id)) == List((10L, 1L)))
  }

  test("data before any rule, or at/below threshold, emits nothing") {
    val out = run(state(wmMs = Some(1000L)),
      data(10, 50, 99.0), // before the first rule
      ctrl(1, 100, 5.0),
      data(11, 110, 5.0), // == threshold: not an alert
      data(12, 120, 4.0)) // below
    assert(out.isEmpty)
  }

  test("the retained rule carries across batches") {
    val st1 = state(wmMs = Some(200L))
    run(st1, ctrl(1, 100, 5.0))
    val st2 = state(wmMs = Some(1000L), Some(st1.get))
    val out = run(st2, data(10, 500, 6.0))
    assert(out.map(_.rule_id) == List(1L))
    assert(st2.get == CepState(Vector.empty,
      AsOfSt(Some(ctrl(1, 100, 5.0)), Vector.empty)))
  }

  test("a rule published at a data row's own µs applies, whatever its id") {
    // The older rule (thr 50) would not alert; each same-µs rule (thr 5)
    // must, whether its id sorts before or after the data row's.
    Seq(5L, 20L).foreach { ruleId =>
      val out = run(state(wmMs = Some(1000L)),
        ctrl(1, 50, 50.0), data(10, 100, 9.0), ctrl(ruleId, 100, 5.0))
      assert(out.map(o => (o.event_id, o.rule_id)) == List((10L, ruleId)),
        s"rule id $ruleId")
    }
  }

  test("a data row at the watermark is held until the watermark passes it") {
    val st1 = state(wmMs = Some(100L))
    assert(run(st1, ctrl(1, 50, 5.0), data(10, 100, 9.0)).isEmpty)
    assert(st1.get.st.held.map(_.event_id) == Vector(10L))
    assert(st1.getTimeoutTimestampMs.get == 100L)
    val out = run(state(wmMs = Some(101L), Some(st1.get)))
    assert(out.map(o => (o.event_id, o.rule_id)) == List((10L, 1L)))
  }
}
