package streamline

import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import graft.SparkSuite
import streamline.batch.Cep
import streamline.batch.Cep.{CepAbs, CepEv, CepRel}
import streamline.stream.CepStream
import streamline.stream.CepStream.CepState

/** Incremental semantics of the streaming RELAXED patterns (followedBy /
  * absence, stream/CepStream.scala): watermark-gated feeding, armed-
  * start carry across batches, timer-driven absence emission, and state
  * removal once drained. Same TestGroupState harness as CepStreamSpec. */
class CepStreamRelaxedSpec extends SparkSuite {

  private type Armed = CepState[Cep.Pending[(Long, Long)]]

  private val MIN_US = 60L * 1000 * 1000
  private val MIN_MS = 60L * 1000

  private def fresh(prev: Option[Armed], wmMs: Long): TestGroupState[Armed] =
    TestGroupState.create[Armed](
      optionalState = prev match {
        case Some(p) => org.apache.spark.api.java.Optional.of(p)
        case None => org.apache.spark.api.java.Optional.empty[Armed]()
      },
      timeoutConf = GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(wmMs),
      hasTimedOut = false)

  private def ev(id: Long, t: String, m: Long) = CepEv(1L, id, t, m * MIN_US)

  test("followedBy: a click armed in one batch matches a purchase sealed later") {
    val st1 = fresh(None, wmMs = 1 * MIN_MS)
    val out1 = CepStream.update(Cep.followedBy)(1L,
      Iterator(ev(1, "click", 0), ev(2, "view", 1), ev(3, "purchase", 5)),
      st1).toList
    // click@0 sealed and armed; view@1 sealed, skipped; purchase@5
    // still above the watermark — buffered, nothing emitted yet
    assert(out1.isEmpty)
    assert(st1.get.st.pending == List((1L, 0L)))
    assert(st1.get.buf.map(_.event_id) == List(3L))
    val out2 = CepStream.update(Cep.followedBy)(1L, Iterator.empty,
      fresh(Some(st1.get), wmMs = 6 * MIN_MS)).toList
    assert(out2 == List(CepRel(1L, 1L, 3L, 0L, 5 * MIN_US)))
  }

  test("followedBy: watermark prunes an expired armed click with no purchase") {
    val st1 = fresh(None, wmMs = 1 * MIN_MS)
    CepStream.update(Cep.followedBy)(1L,
      Iterator(ev(1, "click", 0)), st1).toList
    // wm far past the click's window: the armed start is dead weight
    val st2 = fresh(Some(st1.get), wmMs = 30 * MIN_MS)
    val out = CepStream.update(Cep.followedBy)(1L, Iterator.empty, st2).toList
    assert(out.isEmpty)
    assert(st2.isRemoved, "drained key must drop its state entirely")
  }

  test("absence: emission is timer-driven, not data-driven") {
    val st1 = fresh(None, wmMs = 1 * MIN_MS)
    val out1 = CepStream.update(Cep.absence)(1L,
      Iterator(ev(1, "click", 0)), st1).toList
    // absence not yet proven at wm=1min — armed, timer at the expiry
    assert(out1.isEmpty)
    assert(st1.get.st.pending == List((1L, 0L)))
    assert(st1.getTimeoutTimestampMs.get == 10 * MIN_MS)
    // watermark passes the window end with no data at all: emit
    val st2 = fresh(Some(st1.get), wmMs = 11 * MIN_MS)
    val out2 = CepStream.update(Cep.absence)(1L, Iterator.empty, st2).toList
    assert(out2 == List(CepAbs(1L, 1L, 0L)))
    assert(st2.isRemoved)
  }

  test("absence: a sealed in-window purchase kills the armed click") {
    val st1 = fresh(None, wmMs = 1 * MIN_MS)
    CepStream.update(Cep.absence)(1L, Iterator(ev(1, "click", 0)), st1).toList
    val st2 = fresh(Some(st1.get), wmMs = 11 * MIN_MS)
    // purchase@10 is inside [0, 0+10] (inclusive edge) and sealed now:
    // the click must NOT emit, ever
    val out = CepStream.update(Cep.absence)(1L,
      Iterator(ev(2, "purchase", 10)), st2).toList
    assert(out.isEmpty)
    assert(st2.isRemoved)
  }

  test("absence: watermark just short of the window end does not emit") {
    val st1 = fresh(None, wmMs = 1 * MIN_MS)
    CepStream.update(Cep.absence)(1L, Iterator(ev(1, "click", 0)), st1).toList
    // wm == expiry exactly: strict < means absence is NOT yet proven
    val st2 = fresh(Some(st1.get), wmMs = 10 * MIN_MS)
    val out = CepStream.update(Cep.absence)(1L, Iterator.empty, st2).toList
    assert(out.isEmpty)
    assert(st2.get.st.pending == List((1L, 0L)), "still armed at the edge")
  }

  test("followedByAny: an armed click matches EVERY sealed in-window purchase") {
    val st1 = fresh(None, wmMs = 6 * MIN_MS)
    val out1 = CepStream.update(Cep.followedByAny)(1L,
      Iterator(ev(1, "click", 0), ev(2, "purchase", 3),
        ev(3, "purchase", 5)),
      st1).toList
    // both purchases sealed: all-matches emits BOTH pairs, and the
    // click stays armed for later sealed purchases
    assert(out1 == List(
      CepRel(1L, 1L, 2L, 0L, 3 * MIN_US),
      CepRel(1L, 1L, 3L, 0L, 5 * MIN_US)))
    assert(st1.get.st.pending == List((1L, 0L)), "start must stay armed")
    // a later sealed purchase at the window edge (10 = 0 + within)
    // still matches — and the same step's watermark (11 min) then
    // proves the start expired, so the drained key drops its state
    val st2 = fresh(Some(st1.get), wmMs = 11 * MIN_MS)
    val out2 = CepStream.update(Cep.followedByAny)(1L,
      Iterator(ev(4, "purchase", 10)), st2).toList
    assert(out2 == List(CepRel(1L, 1L, 4L, 0L, 10 * MIN_US)))
    assert(st2.isRemoved, "expired start must not outlive its window")
  }

  test("optional: a sealed view fills the armed slot before the purchase seals") {
    type OptState = CepState[Cep.Pending[(Long, Long, Option[Long])]]
    def freshO(prev: Option[OptState], wmMs: Long): TestGroupState[OptState] =
      TestGroupState.create[OptState](
        optionalState = prev match {
          case Some(p) => org.apache.spark.api.java.Optional.of(p)
          case None => org.apache.spark.api.java.Optional.empty[OptState]()
        },
        timeoutConf = GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 0L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(wmMs),
        hasTimedOut = false)
    // batch 1: click + view sealed — slot filled, nothing emitted
    val st1 = freshO(None, wmMs = 4 * MIN_MS)
    val out1 = CepStream.update(Cep.optional)(1L,
      Iterator(ev(1, "click", 0), ev(2, "view", 2)), st1).toList
    assert(out1.isEmpty)
    assert(st1.get.st.pending == List((1L, 0L, Some(2L))))
    // batch 2: the purchase seals — match carries the captured view;
    // a second armed click without a view reports None
    val st2 = freshO(Some(st1.get), wmMs = 8 * MIN_MS)
    val out2 = CepStream.update(Cep.optional)(1L,
      Iterator(ev(3, "click", 5), ev(4, "purchase", 7)), st2).toList
    assert(out2 == List(
      Cep.CepOpt(1L, 1L, Some(2L), 4L, 0L, 7 * MIN_US),
      Cep.CepOpt(1L, 3L, None, 4L, 5 * MIN_US, 7 * MIN_US)))
    assert(st2.isRemoved)
  }

  test("times(3): a triple armed across batches matches the first sealed purchase") {
    type TimesState = CepState[Cep.TimesSt]
    def freshT(prev: Option[TimesState],
               wmMs: Long): TestGroupState[TimesState] =
      TestGroupState.create[TimesState](
        optionalState = prev match {
          case Some(p) => org.apache.spark.api.java.Optional.of(p)
          case None => org.apache.spark.api.java.Optional.empty[TimesState]()
        },
        timeoutConf = GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 0L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(wmMs),
        hasTimedOut = false)
    // batch 1: two clicks sealed — no triple yet, both retained
    val st1 = freshT(None, wmMs = 3 * MIN_MS)
    val out1 = CepStream.update(Cep.times)(1L,
      Iterator(ev(1, "click", 0), ev(2, "click", 1)), st1).toList
    assert(out1.isEmpty)
    assert(st1.get.st.recent == List((1L, 0L), (2L, 1 * MIN_US)))
    assert(st1.get.st.armed.isEmpty)
    // batch 2: third click arms the (1,2,3) triple; purchase still
    // above the watermark stays buffered
    val st2 = freshT(Some(st1.get), wmMs = 5 * MIN_MS)
    val out2 = CepStream.update(Cep.times)(1L,
      Iterator(ev(3, "click", 4), ev(4, "purchase", 7)), st2).toList
    assert(out2.isEmpty)
    assert(st2.get.st.armed == List((1L, 0L, 3L)))
    assert(st2.get.buf.map(_.event_id) == List(4L))
    // batch 3: the purchase seals — completes the triple and disarms
    val st3 = freshT(Some(st2.get), wmMs = 8 * MIN_MS)
    val out3 = CepStream.update(Cep.times)(1L, Iterator.empty, st3).toList
    assert(out3 == List(Cep.CepTimes(1L, 1L, 3L, 4L, 0L, 7 * MIN_US)))
    assert(st3.get.st.armed.isEmpty)
    assert(st3.get.st.recent == List((2L, 1 * MIN_US), (3L, 4 * MIN_US)),
      "last two clicks stay for future triples")
  }
}
