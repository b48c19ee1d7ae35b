package streamline

import graft.SparkSuite
import graft.TestImplicits._
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import streamline.stream.Stateful
import streamline.stream.Stateful.{DlRow, DlState}

/** Pins q_stream_dedup_last (SURVEY.md §2.9): keep-last-row dedup must
  * be invariant to how AvailableNow splits the input into micro-batches
  * (the state transition is a monotone max in the (ts,id) total order),
  * and the streaming answer must equal the batch argmax.
  */
class DedupLastSpec extends SparkSuite {

  private def row(id: Long, tsMs: Long, tpe: String, v: Double) =
    DlRow(7L, id, new java.sql.Timestamp(tsMs), tpe, v)

  private def freshState(prev: Option[DlState]): TestGroupState[DlState] =
    TestGroupState.create[DlState](
      optionalState = prev match {
        case Some(s) => Optional.of(s)
        case None => Optional.empty[DlState]()
      },
      timeoutConf = GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = Optional.empty[Long](),
      hasTimedOut = false)

  private def runBatches(batches: Seq[Seq[DlRow]]): DlState = {
    var prev = Option.empty[DlState]
    batches.foreach { b =>
      val state = freshState(prev)
      val out = Stateful.updateDedupLast(7L, b.iterator, state).toList
      assert(out.size == 1)
      prev = Some(state.get)
    }
    prev.get
  }

  test("final state is batch-split invariant") {
    val rows = Seq(
      row(3, 1000, "view", 1.0), row(9, 3000, "click", 2.0),
      row(5, 3000, "view", 4.0), // same ts as 9: id breaks the tie
      row(1, 2000, "purchase", 3.0))
    val oneShot = runBatches(Seq(rows))
    val split = runBatches(Seq(rows.take(2), rows.drop(2)))
    val perRow = runBatches(rows.map(Seq(_)))
    assert(oneShot == split && split == perRow)
    assert(oneShot.event_id == 9L) // ts=3000 tie -> larger id wins
  }

  test("pre-1970 fractional-second timestamps keep their (ts, id) order") {
    // -1.5 s and -1.0 s: a truncating ms→s conversion puts the earlier
    // row at -0.5 s, after the later one.
    val rows = Seq(row(1, -1500, "view", 1.0), row(2, -1000, "click", 2.0))
    assert(runBatches(Seq(rows)) == DlState(2L, -1000000L, "click", 2.0))
    assert(runBatches(Seq(rows.reverse)).event_id == 2L)
  }

  test("streaming keep-last equals the batch argmax") {
    val got = graft.SparkEntry.queries("q_stream_dedup_last")(spark, sfDir)
      .select(col("user_id"), col("last_event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max_by(col("event_id"), struct(col("ts"), col("event_id")))
        .as("last_event_id"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
  }
}
