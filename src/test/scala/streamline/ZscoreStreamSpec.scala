package streamline

import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import graft.SparkSuite
import streamline.stream.CepStream
import streamline.stream.CepStream.{CepRow, CepState}
import streamline.stream.Stateful.{ZsOut, ZsSt, Zscore}

/** Incremental semantics of the streaming rolling-z-score operator
  * (SURVEY.md §2.9 stream form of q_win_zscore): watermark-gated
  * buffering, warmup suppression, prior-baseline exclusion of the
  * current row, and ring carry across batches. */
class ZscoreStreamSpec extends SparkSuite {

  private val MIN_MS = 60L * 1000

  private def row(id: Long, m: Long, v: Double) =
    CepRow(1L, id, "view", new java.sql.Timestamp(m * MIN_MS), v).toEv

  private type ZsBuf = CepState[ZsSt]

  private def state(prev: Option[ZsBuf], wmMs: Long): TestGroupState[ZsBuf] =
    TestGroupState.create[ZsBuf](
      optionalState = prev.map(org.apache.spark.api.java.Optional.of[ZsBuf])
        .getOrElse(org.apache.spark.api.java.Optional.empty[ZsBuf]()),
      timeoutConf = GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(wmMs),
      hasTimedOut = false)

  // 20 identical readings then a spike: variance 0, any deviation flags
  test("a spike against a constant 20-reading baseline flags exactly") {
    val st = state(None, wmMs = 100 * MIN_MS)
    val warm = (1L to 20L).map(i => row(i, i, 1.0))
    val out = CepStream.update(Zscore)(1L,
      (warm :+ row(21, 21, 2.0)).iterator, st).toList
    // v=20000 vs ring of 20×10000: dev2=(20·20000−200000)²=4e10, var9=0
    assert(out ==
      List(ZsOut(1L, 21, 20000L, 20L, 200000L, 40000000000L, 0L)))
    // the spike itself joined the ring afterwards
    assert(st.get.st.ring.last == 20000L && st.get.st.ring.length == 20)
  }

  test("warmup rows (ring < 20) never flag, whatever the deviation") {
    val st = state(None, wmMs = 100 * MIN_MS)
    val out = CepStream.update(Zscore)(1L,
      ((1L to 19L).map(i => row(i, i, 1.0)) :+ row(20, 20, 99.0)).iterator,
      st).toList
    assert(out.isEmpty)
  }

  test("rows above the watermark buffer and do not enter the ring") {
    val st = state(None, wmMs = 5 * MIN_MS)
    val out = CepStream.update(Zscore)(1L,
      Iterator(row(1, 1, 1.0), row(2, 50, 2.0)), st).toList
    assert(out.isEmpty)
    assert(st.get.st.ring == List(10000L), "only the sealed row joined")
    assert(st.get.buf.map(_.event_id) == List(2L))
    assert(st.getTimeoutTimestampMs.get == 50 * MIN_MS + 1)
  }

  test("the ring carries across batches (baseline built in batch 1)") {
    val st1 = state(None, wmMs = 100 * MIN_MS)
    CepStream.update(Zscore)(1L,
      (1L to 20L).map(i => row(i, i, 1.0)).iterator, st1).toList
    val st2 = state(Some(st1.get), wmMs = 200 * MIN_MS)
    val out = CepStream.update(Zscore)(1L,
      Iterator(row(21, 101, 3.0)), st2).toList
    assert(out.map(o => (o.event_id, o.v)) == List((21L, 30000L)),
      "batch-2 spike must be judged against batch-1's ring")
  }

  test("flags match the batch twin on the full sf0.001 sealed prefix") {
    val got = graft.SparkEntry.queries("q_stream_zscore")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("q_win_zscore")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // at sf0.001 every flagged row is sealed by the final watermark
    assert(got === batch)
  }
}
