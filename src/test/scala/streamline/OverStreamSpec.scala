package streamline

import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import graft.SparkSuite
import streamline.stream.CepStream
import streamline.stream.CepStream.{CepRow, CepState}
import streamline.stream.Stateful.{OvOut, OvSt, Over}

/** Incremental semantics of the streaming OVER-aggregation operator
  * (SURVEY.md §2.9 stream form of the analytic window): watermark-gated
  * buffering, per-element emission in (ts, id) order, cross-batch
  * accumulator carry, and drain-timer arming. */
class OverStreamSpec extends SparkSuite {

  private val MIN_US = 60L * 1000 * 1000
  private val MIN_MS = 60L * 1000

  private def row(id: Long, m: Long, v: Double) =
    CepRow(1L, id, "view", new java.sql.Timestamp(m * MIN_MS), v).toEv

  private type OvBuf = CepState[OvSt]

  private def freshState(wmMs: Long): TestGroupState[OvBuf] =
    TestGroupState.create[OvBuf](
      optionalState = org.apache.spark.api.java.Optional.empty(),
      timeoutConf = GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(wmMs),
      hasTimedOut = false)

  private def withState(prev: OvBuf, wmMs: Long): TestGroupState[OvBuf] =
    TestGroupState.create[OvBuf](
      optionalState = org.apache.spark.api.java.Optional.of(prev),
      timeoutConf = GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(wmMs),
      hasTimedOut = false)

  test("sealed rows emit one running row per element in (ts, id) order") {
    val state = freshState(wmMs = 10 * MIN_MS)
    // out-of-order arrival within the batch: (id=2, t=2) before (id=1, t=1)
    val out = CepStream.update(Over)(1L,
      Iterator(row(2, 2, 0.5), row(1, 1, 1.25)), state).toList
    assert(out == List(OvOut(1L, 1, 1, 1.25), OvOut(1L, 2, 2, 1.75)))
    val s = state.get
    assert(s.buf.isEmpty && s.st.n == 2L)
  }

  test("rows above the watermark are buffered, not emitted") {
    val state = freshState(wmMs = 1 * MIN_MS)
    val out = CepStream.update(Over)(1L,
      Iterator(row(1, 1, 1.0), row(2, 5, 2.0)), state).toList
    assert(out == List(OvOut(1L, 1, 1, 1.0)))
    val s = state.get
    assert(s.buf.map(_.event_id) == List(2L),
      "t=5min > wm=1min stays buffered")
    // drain timer armed at the last watermark before the earliest
    // buffered event is sealed
    assert(state.getTimeoutTimestampMs.get == 5 * MIN_MS - 1)
  }

  test("the running accumulator carries across batches") {
    val state = freshState(wmMs = 2 * MIN_MS)
    CepStream.update(Over)(1L,
      Iterator(row(1, 1, 1.0), row(2, 2, 2.0)), state).toList
    val out = CepStream.update(Over)(1L, Iterator(row(3, 3, 3.0)),
      withState(state.get, wmMs = 10 * MIN_MS)).toList
    assert(out == List(OvOut(1L, 3, 3, 6.0)),
      "prefix (n=2, sum=3.0) from batch 1 must extend, not restart")
  }

  test("an empty drained buffer arms no timer (accumulator is passive)") {
    val state = freshState(wmMs = 10 * MIN_MS)
    CepStream.update(Over)(1L, Iterator(row(1, 1, 1.0)), state).toList
    assert(state.exists, "accumulator persists for the key's lifetime")
    assert(!state.getTimeoutTimestampMs.isPresent,
      "nothing buffered => nothing a watermark tick could drain")
  }
}
