package streamline

import java.sql.Timestamp

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import streamline.batch.Cep
import streamline.stream.CepStream

/** End-to-end multi-batch run of the streaming CEP operator through the
  * real micro-batch engine (MemoryStream → flatMapGroupsWithState with
  * EventTimeTimeout): a run that spans batches completes when the
  * watermark seals its purchase, and a buffered suffix drains on a
  * TIMER batch (no new data for the key) once the watermark passes it. */
class CepStreamIntegrationSpec extends SparkSuite {

  /** Feeds each delivery as one micro-batch into the Kleene operator
    * under a 10-minute watermark; returns the matches as (user_id,
    * n_clicks, first_click_id, purchase_id). */
  private def kleene(deliveries: Seq[(Long, Long, String, Timestamp)]*)
      : Seq[(Long, Long, Long, Long)] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Timestamp)]
    val name = s"cep_it_${System.identityHashCode(input)}"
    val matches = input.toDS()
      .toDF("user_id", "event_id", "event_type", "ts")
      .withColumn("value", org.apache.spark.sql.functions.lit(0.0))
      .withWatermark("ts", "10 minutes")
      .as[CepStream.CepRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[CepStream.CepRow],
         state: GroupState[CepStream.CepState[Cep.NfaSt]]) =>
          CepStream.update(Cep.kleene)(uid, rows.map(_.toEv), state)
      }
    val q = matches.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try deliveries.foreach { d => input.addData(d); q.processAllAvailable() }
    finally q.stop()
    try spark.table(name)
      .select($"user_id", $"n_clicks", $"first_click_id", $"purchase_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    finally spark.catalog.dropTempView(name): Unit
  }

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
}
