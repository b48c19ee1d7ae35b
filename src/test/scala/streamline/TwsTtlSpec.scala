package streamline

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Pins that transformWithState's TTLConfig actually EXPIRES state
  * (q_stream_tws_ttl's declared run uses a TTL long enough never to
  * fire, so the expiry path needs its own witness): with a 50 ms TTL
  * and a forced inter-batch sleep, the second batch must see the
  * key's state gone and restart its count at 1.
  */
class TwsTtlSpec extends SparkSuite {

  import TwsTtlSpec._

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("expired state is dropped: count restarts after the TTL") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val name = s"ttl_pin_${System.identityHashCode(input)}"
    val checksumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val before = spark.conf.getOption(providerKey)
    val beforeChecksum = spark.conf.getOption(checksumKey)
    spark.conf.set(providerKey, rocks)
    // Same Spark 4.1 checksum-pool starvation workaround as
    // Streams.runToTable (this path starts its own query).
    spark.conf.set(checksumKey, "false")
    try {
      val counted = input.toDS()
        .groupByKey(identity)
        .transformWithState(new CountWithTtl,
          TimeMode.ProcessingTime(), OutputMode.Update())
        .toDF("k", "n")
      val q = counted.writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      // processAllAvailable is racy while the ProcessingTime-mode
      // operator spins empty expiry batches (see
      // Stateful.streamTwsTtl); poll the sink row count instead.
      def awaitRows(n: Int): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (spark.table(name).count() < n) {
          assert(System.nanoTime() < deadline, s"sink never reached $n rows")
          Thread.sleep(100)
        }
      }
      input.addData("a")
      awaitRows(1)
      Thread.sleep(500) // well past the 50 ms TTL
      input.addData("a")
      awaitRows(2)
      q.stop()
      val counts = spark.table(name).as[(String, Long)].collect()
        .map(_._2).toSeq.sorted
      assert(counts == Seq(1L, 1L),
        s"state survived the TTL (expected restart at 1): $counts")
    } finally {
      before match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
      beforeChecksum match {
        case Some(v) => spark.conf.set(checksumKey, v)
        case None    => spark.conf.unset(checksumKey)
      }
    }
  }
}

object TwsTtlSpec {
  class CountWithTtl extends StatefulProcessor[String, String,
      (String, Long)] {
    @transient private var n: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(50)))

    override def handleInputRows(key: String, rows: Iterator[String],
        timers: TimerValues): Iterator[(String, Long)] = {
      val cur = (if (n.exists()) n.get() else 0L) + rows.size
      n.update(cur)
      Iterator.single((key, cur))
    }
  }
}
