package streamline.stream

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import streamline.Q

/** §2.16 connected streams / broadcast-state pattern.
  *
  * The reference lineage's two-input operator surface (upstream
  * `flink-streaming-java/.../co/CoProcessFunction.java` and the
  * broadcast-state `KeyedBroadcastProcessFunction`): a CONTROL stream
  * of rule updates and a DATA stream of records flow into one keyed
  * operator; each data record is evaluated against the latest rule in
  * effect at its event time. Structured Streaming has no two-input
  * keyed operator, so the Spark-native composition is: tag each
  * source, union them (legal because the tag carries both schemas),
  * key by the shared key, and run `flatMapGroupsWithState` whose state
  * holds the rules still reachable by future data under the event-time
  * watermark — one sealed rule + those above the watermark — matching
  * Flink's broadcast-state bound (latest effective rule) once the
  * watermark passes a rule's publication time.
  *
  * Witness wiring on the events table: `error` events are the control
  * stream (their value = an alert threshold for that user), `view`
  * events are the data stream; a data row becomes an alert when its
  * value exceeds the threshold of the latest rule at or before its
  * event time.
  *
  * Scale posture: one shuffle on the key; state per key is one sealed
  * rule plus the rules within the watermark delay (RuleStateBoundSpec
  * pins this), so state size is O(distinct keys) once the watermark
  * advances — the property that lets the operator run unbounded. Rule fan-out to all keys (true broadcast) would
  * replace the keyed union with a `crossJoin(broadcast(rules))` at
  * rule-publication time; the per-key variant here is the general
  * (keyed) form.
  */
object Connect {

  // public: Spark's generated row (de)serializers cannot see private
  // classes.
  case class CsRow(user_id: Long, ts_us: Long, event_id: Long,
                   is_ctrl: Boolean, value: Double)
  case class CsRule(ts_us: Long, rule_id: Long, threshold: Double)
  case class CsOut(user_id: Long, event_id: Long, ts_us: Long,
                   value: Double, rule_id: Long, threshold: Double)

  private def dec4(v: Double): BigDecimal =
    BigDecimal(v).setScale(4, RoundingMode.HALF_UP)

  /** Per-key co-process: fold control rows into the rule state, sweep
    * data rows in (ts, id) order against the latest rule at or before
    * each row's time (ties → the rule wins; among same-ts rules the
    * max id wins, i.e. last publication). Emits alerts only.
    *
    * State retention: keeping only the newest rule would be wrong under
    * multi-batch execution — a data row arriving in a LATER batch with
    * event time before the newest rule must still match the rule in
    * effect at its time. The event-time watermark gives the safe prune
    * bound: any future data row has ts > watermark, so every rule except
    * the newest one at-or-below the watermark can never be "the latest
    * rule at or before" a future row's time. Retained state = that one
    * rule + all rules above the watermark — the minimal correct set,
    * still bounded because the watermark advances past published rules. */
  private[streamline] def updateConnect(uid: Long, rows: Iterator[CsRow],
      state: GroupState[List[CsRule]]): Iterator[CsOut] = {
    val batch = rows.toList
    val newRules = batch.filter(_.is_ctrl)
      .map(r => CsRule(r.ts_us, r.event_id, r.value))
    val rules = (state.getOption.getOrElse(Nil) ++ newRules)
      .sortBy(r => (r.ts_us, r.rule_id))
    val data = batch.filterNot(_.is_ctrl).sortBy(r => (r.ts_us, r.event_id))
    val out = data.flatMap { d =>
      rules.takeWhile(r => r.ts_us <= d.ts_us).lastOption.collect {
        // exact-decimal compare so the alert predicate agrees with the
        // oracle bit-for-bit on boundary values.
        case r if dec4(d.value) > dec4(r.threshold) =>
          CsOut(uid, d.event_id, d.ts_us, d.value, r.rule_id, r.threshold)
      }
    }
    // No watermark configured (unit-test harness) ⇒ 0: prune nothing.
    val wmUs = (try state.getCurrentWatermarkMs()
    catch { case _: UnsupportedOperationException => 0L }) * 1000L
    val (sealed_, live) = rules.partition(_.ts_us <= wmUs)
    state.update(sealed_.takeRight(1) ::: live)
    out.iterator
  }

  /** q_stream_connect — the connected-streams witness (control stream
    * reconfiguring a keyed data stream; see object doc). */
  private def streamConnect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tagged = Streams.eventsStream(spark, dir)
      .where($"event_type".isin("error", "view"))
      // The watermark is the rule-state prune bound (see updateConnect);
      // the column itself is carried on as ts_us.
      .withWatermark("ts", "10 minutes")
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        ($"event_type" === "error").as("is_ctrl"), $"value")
      .as[CsRow]
    val alerts = tagged
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(updateConnect)
      .toDF()
    Streams.runToTable(spark, "connect", "append", alerts)
      .select($"user_id", $"event_id",
        date_trunc("second", timestamp_micros($"ts_us"))
          .cast("timestamp_ntz").as("ts"),
        $"value", $"rule_id", $"threshold")
      .orderBy($"user_id", $"event_id")
  }

  private val streamConnectSql = """
    WITH c AS (SELECT user_id, event_id AS rule_id,
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
    Q("q_stream_connect", streamConnect _, streamConnectSql),
    Q("q_stream_connect_broadcast", streamConnectBroadcast _,
      streamConnectBroadcastSql))
}
