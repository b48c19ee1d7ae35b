package streamline.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import streamline.Q
import streamline.batch.Cep.CepEv
import streamline.util.Det.{dec4, tsSec}

/** §2.16 connected streams / broadcast-state pattern.
  *
  * The reference lineage's two-input operator surface (upstream
  * `flink-streaming-java/.../co/CoProcessFunction.java` and the
  * broadcast-state `KeyedBroadcastProcessFunction`): a CONTROL stream
  * of rule updates and a DATA stream of records flow into one keyed
  * operator; each data record is evaluated against the latest rule in
  * effect at its event time. Structured Streaming has no two-input
  * keyed operator, so the Spark-native composition reads both from one
  * event stream, keys it by the shared key, and runs the as-of fold
  * `Stateful.AsOf` through the one sealed-replay operator
  * (`CepStream.update`): arrivals are buffered until the watermark seals
  * them, then replayed in (ts, id) order, so a rule delivered in a later
  * micro-batch than the data it governs still applies.
  *
  * Witness wiring on the events table: `error` events are the control
  * stream (their value = an alert threshold for that user), `view`
  * events are the data stream; a data row becomes an alert when its
  * value exceeds the threshold of the latest rule at or before its
  * event time (a rule at the row's own µs applies, whatever its id).
  *
  * Scale posture: one shuffle on the key; state per key is the events
  * above the watermark, one sealed rule and the data rows held at one µs
  * (RuleStateBoundSpec pins this) — Flink's broadcast-state bound
  * (latest effective rule) once the watermark passes a rule's
  * publication time, so state size is O(distinct keys) as the watermark
  * advances. Rule fan-out to all keys (true broadcast) would replace the
  * keyed stream with a `crossJoin(broadcast(rules))` at
  * rule-publication time; the per-key variant here is the general
  * (keyed) form.
  */
object Connect {

  // public: Spark's generated row (de)serializers cannot see private
  // classes.
  case class CsOut(user_id: Long, event_id: Long, ts_us: Long,
                   value: Double, rule_id: Long, threshold: Double)

  /** q_stream_connect — the connected-streams witness (control stream
    * reconfiguring a keyed data stream; see object doc). Emits alerts
    * only; the exact-decimal compare agrees with the oracle bit-for-bit
    * on boundary values. */
  private[streamline] object Rules
      extends Stateful.AsOf[CsOut]("error", "view") {
    def out(d: CepEv, r: Option[CepEv]): Option[CsOut] =
      r.filter(r => dec4(d.value) > dec4(r.value)).map(r =>
        CsOut(d.user_id, d.event_id, d.ts_us, d.value, r.event_id, r.value))
    def project(m: DataFrame): DataFrame =
      m.select(col("user_id"), col("event_id"),
        tsSec(timestamp_micros(col("ts_us"))).as("ts"),
        col("value"), col("rule_id"), col("threshold"))
        .orderBy("user_id", "event_id")
  }

  /** Oracle: the as-of rule application restricted to data rows strictly
    * below the final watermark (a row at the watermark itself is still
    * held). */
  private val streamConnectSql = """
    WITH c AS (SELECT user_id, event_id AS rule_id,
                 date_trunc('microseconds', ts) AS r_ts,
                 value AS threshold
               FROM events WHERE event_type = 'error'),
    wm AS (SELECT date_trunc('millisecond', max(ts))
             - INTERVAL 10 MINUTE AS w FROM events),
    d AS (SELECT user_id, event_id,
            date_trunc('microseconds', ts) AS d_ts, value
          FROM events WHERE event_type = 'view'
            AND date_trunc('microseconds', ts) < (SELECT w FROM wm)),
    j AS (SELECT d.user_id AS user_id, d.event_id AS event_id, d.d_ts,
            d.value AS value, c.rule_id, c.threshold,
            row_number() OVER (PARTITION BY d.event_id
              ORDER BY c.r_ts DESC, c.rule_id DESC) AS rn
          FROM d JOIN c ON d.user_id = c.user_id AND c.r_ts <= d.d_ts)
    SELECT user_id, event_id, date_trunc('second', d_ts) AS ts,
      value, rule_id, threshold
    FROM j
    WHERE rn = 1
      AND CAST(value AS DECIMAL(18,4)) > CAST(threshold AS DECIMAL(18,4))
    ORDER BY user_id, event_id"""

  /** Per-batch rule application for the UNKEYED broadcast witness,
    * factored out so ConnectBroadcastSpec can pin the plan: the rule
    * set is materialized as a SORTED ARRAY in a Spark broadcast
    * variable — the literal Spark equivalent of Flink's broadcast
    * state, which likewise lives fully on every task's heap — and each
    * data row binary-searches the latest rule at or before its event
    * time (ties: max rule_id), then the threshold filter. O(log R) per
    * element, ZERO shuffle and zero join fan-out; a range-join
    * formulation here explodes to |data|×|rules| pairs under a pure
    * non-equi predicate (measured: 232 s vs sub-second at sf0.1).
    * The `collect()` is sanctioned broadcast-state scale BY CONTRACT:
    * a rule set that does not fit in task memory is not broadcast
    * state in Flink either — past that size, re-key to the banded
    * keyed form (q_stream_connect) or a time-banded dim join. */
  private[streamline] def applyRules(batch: DataFrame,
                                     rules: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val ruleArr = rules.select($"r_ts_us", $"rule_id", $"threshold")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val bc = spark.sparkContext.broadcast(ruleArr)
    val lookup = udf { tsUs: Long =>
      val a = bc.value
      // upper bound on r_ts_us: a(lo-1) = latest rule at/before tsUs,
      // and the (ts, id) sort makes it the max-id rule among ts ties.
      var lo = 0; var hi = a.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (a(m)._1 <= tsUs) lo = m + 1 else hi = m
      }
      if (lo == 0) None else Some((a(lo - 1)._2, a(lo - 1)._3))
    }
    batch
      .withColumn("rule", lookup(unix_micros($"ts")))
      .where($"rule".isNotNull)
      .select($"user_id", $"event_id",
        date_trunc("second", $"ts").cast("timestamp_ntz").as("ts"),
        $"value", $"rule._1".as("rule_id"), $"rule._2".as("threshold"))
      .where($"value".cast("decimal(18,4)") >
        $"threshold".cast("decimal(18,4)"))
  }

  /** q_stream_connect_broadcast — UNKEYED broadcast state: a GLOBAL
    * rule stream (no key shared with the data) reconfiguring every
    * key's processing (upstream `KeyedBroadcastProcessFunction` with
    * an unkeyed broadcast side). q_stream_connect covers the keyed
    * form by re-keying the rules per user; here the rules apply to ALL
    * users, so re-keying is impossible by construction — the
    * Spark-native composition is a foreachBatch data stream whose
    * every micro-batch RELOADS and BROADCASTS the current rule dim
    * ([[applyRules]]). Rule refresh is witnessed end-to-end: the rule
    * dir gains rules BETWEEN the two drains, and the second drain's
    * batches see them. The pipeline holds ZERO keyed state — rule
    * distribution is the broadcast, not state — which is exactly the
    * broadcast-state contract (rules are operator-wide, not per-key).
    * Event-time correctness does not depend on the batch split: a rule
    * is staged before every data row it can match (r_ts ≤ d_ts), so
    * the as-of join inside any batch sees a sufficient rule set. */
  private def streamConnectBroadcast(spark: SparkSession,
                                     dir: String): DataFrame = {
    import spark.implicits._
    val root = streamline.util.Scratch.fresh("connbc", dir)
    val (ruleDir, stage, ckpt, out) =
      (s"$root/rules", s"$root/in", s"$root/ck", s"$root/out")
    val events = streamline.Tables.events(spark, dir)
    // Global rules: every error event publishes a threshold for ALL
    // users at its event time. r_ts carried as raw µs (tz-independent).
    val rules = events.where($"event_type" === "error")
      .select($"event_id".as("rule_id"), unix_micros($"ts").as("r_ts_us"),
        $"value".as("threshold"))
    val views = events.where($"event_type" === "view")
      .select($"event_id", $"ts", $"user_id", $"value")
    val b = events.agg(min($"ts"), max($"ts")).head()
    val cut = new java.sql.Timestamp(
      (b.getTimestamp(0).getTime + b.getTimestamp(1).getTime) / 2)
    def drain(): Unit =
      Streams.drain(spark, spark.readStream.schema(views.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .writeStream
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // the broadcast-state refresh point: reload the CURRENT rules
          val r = spark.read
            .schema("rule_id LONG, r_ts_us LONG, threshold DOUBLE")
            .parquet(ruleDir)
          applyRules(df, r).write.mode("append").parquet(out): Unit
        }, checkpoint = Some(ckpt)): Unit
    // Interleaved staging: rules first (a rule precedes every data row
    // it can match), then the matching half of the data.
    rules.where($"r_ts_us" < lit(cut.getTime * 1000L))
      .coalesce(1).write.parquet(ruleDir)
    views.where($"ts" < lit(cut)).coalesce(1).write.parquet(stage)
    drain()
    rules.where($"r_ts_us" >= lit(cut.getTime * 1000L))
      .coalesce(1).write.mode("append").parquet(ruleDir)
    views.where($"ts" >= lit(cut)).coalesce(1).write.mode("append")
      .parquet(stage)
    drain() // sees the refreshed rule set
    spark.read.parquet(out)
      .select($"user_id", $"event_id", $"ts", $"value", $"rule_id",
        $"threshold")
      .orderBy($"user_id", $"event_id")
  }

  // The global as-of rule application: latest rule at or before each
  // view's event time (ties: max rule_id), across ALL users.
  private val streamConnectBroadcastSql = """
    WITH c AS (SELECT event_id AS rule_id,
                 date_trunc('microseconds', ts) AS r_ts,
                 value AS threshold
               FROM events WHERE event_type = 'error'),
    d AS (SELECT user_id, event_id,
            date_trunc('microseconds', ts) AS d_ts, value
          FROM events WHERE event_type = 'view'),
    j AS (SELECT d.user_id AS user_id, d.event_id AS event_id, d.d_ts,
            d.value AS value, c.rule_id, c.threshold,
            row_number() OVER (PARTITION BY d.event_id
              ORDER BY c.r_ts DESC, c.rule_id DESC) AS rn
          FROM d JOIN c ON c.r_ts <= d.d_ts)
    SELECT user_id, event_id, date_trunc('second', d_ts) AS ts,
      value, rule_id, threshold
    FROM j
    WHERE rn = 1
      AND CAST(value AS DECIMAL(18,4)) > CAST(threshold AS DECIMAL(18,4))
    ORDER BY user_id, event_id"""

  val all: Seq[Q] = Seq(
    CepStream.twin("q_stream_connect", Rules, streamConnectSql),
    Q("q_stream_connect_broadcast", streamConnectBroadcast _,
      streamConnectBroadcastSql))
}
