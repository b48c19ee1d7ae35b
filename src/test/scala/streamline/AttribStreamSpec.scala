package streamline

import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import graft.SparkSuite
import streamline.stream.CepStream
import streamline.stream.CepStream.{CepRow, CepState}
import streamline.stream.Stateful.{AtOut, AtSt, Attrib}

/** Incremental semantics of the streaming last-touch-attribution
  * operator (SURVEY.md §2.9 stream form of q_win_attrib): watermark
  * gating, strict precedence (a purchase never attributes to a click
  * at a later (ts, id) position), the 7-day lookback boundary, and
  * carried-click state across batches. */
class AttribStreamSpec extends SparkSuite {

  private val DAY_MS = 86400L * 1000

  private def row(id: Long, dayFrac: Double, typ: String) =
    CepRow(1L, id, typ, new java.sql.Timestamp((dayFrac * DAY_MS).toLong),
      0.0).toEv

  private type AtBuf = CepState[AtSt]

  private def state(prev: Option[AtBuf], wmMs: Long): TestGroupState[AtBuf] =
    TestGroupState.create[AtBuf](
      optionalState = prev.map(org.apache.spark.api.java.Optional.of[AtBuf])
        .getOrElse(org.apache.spark.api.java.Optional.empty[AtBuf]()),
      timeoutConf = GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(wmMs),
      hasTimedOut = false)

  test("a purchase attributes to the click before it, not after") {
    val st = state(None, wmMs = 100 * DAY_MS)
    val out = CepStream.update(Attrib)(1L, Iterator(
      row(1, 1.0, "purchase"),   // no prior click
      row(2, 1.5, "click"),
      row(3, 2.0, "purchase"),   // click at 1.5d precedes: attributed
      row(4, 2.5, "click")), st).toList
    assert(out == List(AtOut(1L, 1, 1L, 0L), AtOut(1L, 3, 2L, 1L)))
    assert(st.get.st.lastClickUs == (2.5 * DAY_MS).toLong * 1000)
  }

  test("the 7-day lookback is inclusive at exactly 7 days, not beyond") {
    val st = state(None, wmMs = 100 * DAY_MS)
    val out = CepStream.update(Attrib)(1L, Iterator(
      row(1, 0.0, "click"),
      row(2, 7.0, "purchase"),    // exactly 7 days: attributed
      row(3, 7.00001, "purchase") // past 7 days: not
    ), st).toList
    assert(out.map(o => (o.event_id, o.attr)) == List((2L, 1L), (3L, 0L)))
  }

  test("unsealed rows buffer; the sealed click carries across batches") {
    val st1 = state(None, wmMs = 2 * DAY_MS)
    val out1 = CepStream.update(Attrib)(1L, Iterator(
      row(1, 1.0, "click"), row(2, 3.0, "purchase")), st1).toList
    assert(out1.isEmpty && st1.get.buf.map(_.event_id) == List(2L))
    assert(st1.get.st.lastClickUs == DAY_MS * 1000L)
    val st2 = state(Some(st1.get), wmMs = 10 * DAY_MS)
    val out2 = CepStream.update(Attrib)(1L, Iterator.empty, st2).toList
    assert(out2 == List(AtOut(1L, 2, 3L, 1L)),
      "batch-2 drain must attribute against batch-1's sealed click")
  }

  test("per-purchase rows roll up to the batch twin's day table") {
    import org.apache.spark.sql.functions._
    val streamed = graft.SparkEntry.queries("q_stream_attrib")(spark, sfDir)
    val rolled = streamed.groupBy("day")
      .agg(count(lit(1)).as("n_purch"), sum("attr").as("n_attr"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val batch = graft.SparkEntry.queries("q_win_attrib")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // every streamed day matches the batch rollup except possibly the
    // final (watermark-cut) day, whose purchases may be partly unsealed
    val lastDay = batch.keys.max
    rolled.foreach { case (d, (n, a)) =>
      if (d < lastDay) assert(batch(d) == (n, a), s"day $d")
      else assert(n <= batch(d)._1 && a <= batch(d)._2, s"day $d (cut)")
    }
    assert(rolled.size >= batch.size - 1,
      "only the final day may be fully watermark-cut")
  }
}
