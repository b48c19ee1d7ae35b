package streamline

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import streamline.batch.Cep
import streamline.stream.{CepStream, Stateful}

/** End-to-end multi-batch run of the streaming CEP operator through the
  * real micro-batch engine (MemoryStream → flatMapGroupsWithState with
  * EventTimeTimeout): a run that spans batches completes when the
  * watermark seals its purchase, and a buffered suffix drains on a
  * TIMER batch (no new data for the key) once the watermark passes it. */
class CepStreamIntegrationSpec extends SparkSuite {

  /** Feeds each delivery as one micro-batch into `p`'s operator under a
    * 10-minute watermark; returns every emitted row. */
  private def run[S: TypeTag, O <: Product : TypeTag](p: Cep.Pattern[S, O],
      deliveries: Seq[(Long, Long, String, Timestamp)]*): Seq[O] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Timestamp)]
    val name = s"cep_it_${System.identityHashCode(input)}"
    val out = input.toDS()
      .toDF("user_id", "event_id", "event_type", "ts")
      .withColumn("value", org.apache.spark.sql.functions.lit(0.0))
      .withWatermark("ts", "10 minutes")
      .as[CepStream.CepRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[CepStream.CepRow],
         state: GroupState[CepStream.CepState[S]]) =>
          CepStream.update(p)(uid, rows.map(_.toEv), state)
      }
    val q = out.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try deliveries.foreach { d => input.addData(d); q.processAllAvailable() }
    finally q.stop()
    try spark.table(name).as[O].collect().toSeq
    finally spark.catalog.dropTempView(name): Unit
  }

  /** The Kleene matches as (user_id, n_clicks, first_click_id,
    * purchase_id). */
  private def kleene(deliveries: Seq[(Long, Long, String, Timestamp)]*)
      : Seq[(Long, Long, Long, Long)] =
    run(Cep.kleene, deliveries: _*)
      .map(m => (m.user_id, m.n_clicks, m.first_click_id, m.purchase_id))

  test("a click run buffered in batch 1 matches its purchase after the watermark passes") {
    def ts(t: String) = Timestamp.valueOf(t)
    val out = kleene(
      // batch 1: two clicks and the purchase, all within 10 min — but
      // the watermark is still 0, so everything buffers.
      Seq((1L, 1L, "click", ts("2024-03-01 10:00:00")),
        (1L, 2L, "click", ts("2024-03-01 10:01:00")),
        (1L, 3L, "purchase", ts("2024-03-01 10:05:00"))),
      // batch 2: a far-future event for ANOTHER user advances the
      // watermark past user 1's buffer; user 1 gets no new data, so the
      // drain must come from the event-time TIMER.
      Seq((2L, 9L, "view", ts("2024-03-01 13:00:00"))),
      // one more batch so timers armed against the new watermark fire
      Seq((2L, 10L, "view", ts("2024-03-01 13:00:01"))))
    assert(out == Seq((1L, 2L, 1L, 3L)),
      s"expected the buffered run to complete via timer drain, got $out")
  }

  test("a run whose window closed on a timer pass is still extended by its next click") {
    // Minutes since the epoch. User 2's events move the watermark; user 1
    // sees run {click@1, click@12} then purchase@13, which is past the
    // run's window (13 > 1 + 10): the batch answer is no match.
    def at(min: Double) = new Timestamp((min * 60000).toLong)
    val out = kleene(
      Seq((1L, 1L, "click", at(1))),
      Seq((2L, 9L, "view", at(21.5))), // watermark → 11.5 min
      // user 1's timer pass seals click@1 at a watermark past its window
      Seq((2L, 10L, "view", at(21.5))),
      Seq((1L, 2L, "click", at(12)), (1L, 3L, "purchase", at(13))),
      Seq((2L, 11L, "view", at(40))), // watermark → 30 min
      Seq((2L, 12L, "view", at(40))))
    assert(out.isEmpty, s"split delivery matched: $out")
  }

  // The final watermark w = 10:00:00.001 is set by user 4's rows at
  // w + 10 min; the users below get no data after batch 1, so only
  // their timers can drain them. Spark fires a timer once it is below
  // the watermark, so each must be armed below w for a row at w.
  private def ts(t: String) = Timestamp.valueOf(s"2024-03-01 $t")
  private val setsWatermark = Seq((4L, 9L, "view", ts("10:10:00.001")))
  private val afterWatermark = Seq((4L, 10L, "view", ts("10:10:00.001")))

  test("rows sealed within 2 ms of the final watermark drain on their timers") {
    val out = run(Stateful.Over,
      Seq((1L, 1L, "view", ts("09:59:59.998")), // w - 3 ms
        (2L, 2L, "view", ts("10:00:00.0005")),  // w - 0.5 ms
        (3L, 3L, "view", ts("10:00:00.001"))),  // w
      setsWatermark, afterWatermark)
    assert(out.map(_.event_id).sorted == Seq(1L, 2L, 3L),
      s"every row at or below the final watermark must be emitted, got $out")
  }

  test("an as-of probe just below the final watermark resolves on its timer") {
    val out = run(Stateful.Temporal,
      Seq((5L, 1L, "view", ts("09:00:00")),
        (5L, 2L, "purchase", ts("10:00:00.0005"))), // w - 0.5 ms
      setsWatermark, afterWatermark)
    assert(out.map(o => (o.user_id, o.p_id, o.v_id)) == Seq((5L, 2L, Some(1L))),
      s"the held probe must resolve against its version, got $out")
  }
}
