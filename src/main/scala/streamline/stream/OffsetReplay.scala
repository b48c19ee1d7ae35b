package streamline.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import streamline.{Q, Tables}
import streamline.util.Det._

/** q_source_offset_replay — the (partition, offset) replay seam of a
  * log-structured source, witnessed WITHOUT a broker: the one §2.1 row
  * still excluded is the Kafka connector (reference lineage:
  * flink-connector-kafka; no jar/broker in this environment, SURVEY
  * §0.1), and what that connector fundamentally provides is a contract,
  * not a wire protocol —
  *
  *   1. records live in PARTITIONS, totally ordered by OFFSET within
  *      each partition;
  *   2. a consumer's progress IS a (partition → next offset) map,
  *      durably committed AFTER the downstream effect (at-least-once
  *      delivery);
  *   3. recovery re-reads from the last committed offsets, so the batch
  *      in flight at the crash is RE-DELIVERED;
  *   4. an idempotent sink keyed by (partition, offset) collapses the
  *      re-delivery — the exactly-once-effect composition Structured
  *      Streaming's Kafka source + foreachBatch idempotent sink
  *      implement.
  *
  * This file witnesses exactly that contract over a file-backed topic:
  * a staged partitioned log (parquet, explicit `part`/`off` columns), an
  * atomically-renamed offsets file as the commit log, a driver loop
  * whose only state is the P-entry offset map (metadata-scale, like the
  * pipeline's prefix-sum state), and a sink that appends batches and
  * dedups on (part, off) at read time — the upsert-sink discipline of
  * q_sink_upsert. The declared query runs the WHOLE lifecycle: stage,
  * consume two batches, crash BETWEEN sink write and offset commit (the
  * at-least-once window), recover from the committed offsets — which
  * re-delivers the uncommitted batch — and drain to the end; the final
  * table must hash-match the plain batch oracle over `events`, i.e. the
  * crash/replay must be invisible. OffsetReplaySpec additionally drives
  * a double replay and an arbitrary offset rewind.
  *
  * Scale posture: every data-plane step is a distributed scan/filter/
  * write (the per-batch range filter is a broadcast join against a
  * P-row bounds table); driver state is P longs; the sink dedup is a
  * keyed shuffle on (part, off). A real connector plugs into this seam
  * by replacing the staged parquet with broker fetches — nothing else
  * in the composition changes. */
object OffsetReplay {

  private val nParts = 4

  // ---- commit log: (partition -> next offset to read), atomic rename ----

  private def offsetsFile(root: String) = new java.io.File(root, "offsets.txt")

  private[streamline] def committed(root: String): Map[Int, Long] = {
    val f = offsetsFile(root)
    if (!f.exists()) (0 until nParts).map(_ -> 0L).toMap
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      txt.trim.split("\\s+").map { tok =>
        val Array(p, o) = tok.split(":")
        p.toInt -> o.toLong
      }.toMap
    }
  }

  private[streamline] def commit(root: String, next: Map[Int, Long]): Unit = {
    val tmp = new java.io.File(root, ".offsets.txt.tmp")
    java.nio.file.Files.write(tmp.toPath,
      next.toSeq.sorted.map { case (p, o) => s"$p:$o" }
        .mkString(" ").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, offsetsFile(root).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  // ---- topic access ----

  private def stageDir(root: String) = s"$root/stage"
  private def sinkDir(root: String) = s"$root/sink"

  private def stage(spark: SparkSession, dir: String, root: String): Unit = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"part").orderBy($"event_id")
    Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value",
        unix_timestamp(date_trunc("second", $"ts")).as("ts_s"))
      .withColumn("part", pmod(hash($"user_id"), lit(nParts)))
      .withColumn("off", row_number().over(w).cast("long") - 1)
      .write.parquet(stageDir(root))
  }

  private[streamline] def endOffsets(spark: SparkSession,
                                     root: String): Map[Int, Long] = {
    import spark.implicits._
    val m = spark.read.parquet(stageDir(root))
      .groupBy($"part").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    (0 until nParts).map(p => p -> m.getOrElse(p, 0L)).toMap
  }

  /** One micro-batch's range read: [from, to) per partition, spelled as
    * a broadcast join against the P-row bounds table so the range
    * filter is map-side over the partitioned scan. */
  private def readRange(spark: SparkSession, root: String,
      from: Map[Int, Long], to: Map[Int, Long]): DataFrame = {
    import spark.implicits._
    val bounds = (0 until nParts)
      .map(p => (p, from(p), to(p))).toDF("bpart", "lo", "hi")
    spark.read.parquet(stageDir(root))
      .join(broadcast(bounds), $"part" === $"bpart" &&
        $"off" >= $"lo" && $"off" < $"hi")
      .drop("bpart", "lo", "hi")
  }

  /** The consume loop. Per batch: sink write FIRST, offset commit
    * SECOND — the at-least-once ordering (committing first would drop
    * the in-flight batch on a crash: at-most-once, the wrong default).
    * `failBeforeCommit = i` stops the loop after batch i's sink write
    * but BEFORE its commit, simulating a crash inside that window; the
    * next runLoop then re-delivers batch i. */
  private[streamline] def runLoop(spark: SparkSession, root: String,
      step: Long, failBeforeCommit: Int = -1): Unit = {
    val end = endOffsets(spark, root)
    var cur = committed(root)
    var batch = 0
    while (cur.exists { case (p, o) => o < end(p) }) {
      val hi = cur.map { case (p, o) => p -> math.min(o + step, end(p)) }
      readRange(spark, root, cur, hi)
        .write.mode("append").parquet(sinkDir(root))
      if (batch == failBeforeCommit) return
      commit(root, hi)
      cur = hi
      batch += 1
    }
  }

  /** The exactly-once READ of the at-least-once sink: duplicates from
    * re-delivered batches collapse on the (part, off) key. */
  private[streamline] def finalTable(spark: SparkSession,
                                     root: String): DataFrame =
    spark.read.parquet(sinkDir(root)).dropDuplicates("part", "off")

  /** Raw sink row count — the spec asserts it EXCEEDS the staged count
    * after a crash/replay (the duplicates are really there; dedup is
    * doing the exactly-once work, not luck). */
  private[streamline] def sinkRawCount(spark: SparkSession,
                                       root: String): Long =
    spark.read.parquet(sinkDir(root)).count()

  private[streamline] def stepFor(end: Map[Int, Long]): Long =
    math.max(1L, end.values.max / 3)

  private def sourceOffsetReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = streamline.util.Scratch.staged("offreplay", dir) { root =>
      stage(spark, dir, root)
      val step = stepFor(endOffsets(spark, root))
      // first incarnation: batch 0 sunk+committed, batch 1 sunk, CRASH
      runLoop(spark, root, step, failBeforeCommit = 1)
      // recovery: re-delivers batch 1 (now duplicated in the sink),
      // then drains to the end
      runLoop(spark, root, step)
    }
    finalTable(spark, root)
      .select($"event_id", $"user_id", $"event_type", $"value",
        tsOut(timestamp_seconds($"ts_s")).as("ts_sec"))
      .orderBy($"event_id")
  }

  // ---- consumer-group rebalance (r12 verdict item 4) ----
  //
  // The second half of the Kafka contract the connector would provide:
  // a consumer GROUP divides the P partitions among N consumers via an
  // assignment that can change mid-drain (a consumer joins or leaves —
  // a rebalance), each consumer commits ONLY its assigned partitions'
  // offsets, and the union of all consumers' work is still
  // exactly-once. Two things make that non-trivial, and both are
  // witnessed here:
  //
  //   1. commit ISOLATION — progress is per-partition, so commits must
  //      be partition-granular (one atomically-renamed file per
  //      partition below; a shared offsets file would let one
  //      consumer's commit clobber another's in-flight progress);
  //   2. the handoff window — a rebalance can move a partition away
  //      from a consumer that has SUNK a batch but not yet COMMITTED
  //      it. The new owner starts from the last committed offset and
  //      RE-DELIVERS that batch; the (part, off)-keyed sink dedup is
  //      what makes the handoff invisible, exactly as it makes a crash
  //      invisible in q_source_offset_replay.

  private def partOffsetFile(root: String, p: Int) =
    new java.io.File(root, s"offsets_p$p.txt")

  private[streamline] def committedPart(root: String, p: Int): Long = {
    val f = partOffsetFile(root, p)
    if (!f.exists()) 0L
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .trim.toLong
  }

  private[streamline] def commitPart(root: String, p: Int, off: Long): Unit = {
    val tmp = new java.io.File(root, s".offsets_p$p.txt.tmp")
    java.nio.file.Files.write(tmp.toPath, off.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, partOffsetFile(root, p).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private[streamline] def committedGroup(root: String): Map[Int, Long] =
    (0 until nParts).map(p => p -> committedPart(root, p)).toMap

  /** One consumer incarnation inside the group: drains `step`-sized
    * batches from its ASSIGNED partitions only, sink write first /
    * per-partition commit second (the same at-least-once ordering as
    * [[runLoop]]), recovering its position from the per-partition
    * commit log on entry — a consumer holds no state a rebalance could
    * lose. `maxBatches` bounds the incarnation (a consumer that will be
    * rebalanced away); `failBeforeCommit = i` crashes it after batch
    * i's sink write but before any of that batch's commits — the
    * handoff window. */
  private[streamline] def runConsumer(spark: SparkSession, root: String,
      assigned: Set[Int], step: Long, maxBatches: Int = Int.MaxValue,
      failBeforeCommit: Int = -1): Unit = {
    val end = endOffsets(spark, root)
    var batch = 0
    var cur = committedGroup(root)
    while (batch < maxBatches &&
        assigned.exists(p => cur(p) < end(p))) {
      // unassigned partitions get an empty [cur, cur) range: the
      // broadcast-bounds range read then never touches them
      val hi = cur.map { case (p, o) =>
        p -> (if (assigned(p)) math.min(o + step, end(p)) else o)
      }
      readRange(spark, root, cur, hi)
        .write.mode("append").parquet(sinkDir(root))
      if (batch == failBeforeCommit) return
      assigned.foreach(p => commitPart(root, p, hi(p)))
      cur = hi
      batch += 1
    }
  }

  /** q_source_rebalance — the full group lifecycle over the staged
    * topic: epoch 0 assigns partitions {0,1} to consumer A and {2,3}
    * to consumer B; A commits one batch normally, B sinks one batch
    * and crashes INSIDE the handoff window (sunk, uncommitted); the
    * group rebalances (B leaves, epoch 1 assigns everything to A); A
    * recovers from the per-partition commit log — re-delivering B's
    * uncommitted batch — and drains to the end. The deduped sink must
    * hash-match the plain batch oracle: the rebalance, like the crash,
    * must be invisible. RebalanceSpec additionally pins commit
    * isolation and an interleaved two-consumer drain. */
  private def sourceRebalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = streamline.util.Scratch.staged("rebalance", dir) { root =>
      stage(spark, dir, root)
      val step = stepFor(endOffsets(spark, root))
      // epoch 0: A = {0,1}, B = {2,3}
      runConsumer(spark, root, Set(0, 1), step, maxBatches = 1)
      runConsumer(spark, root, Set(2, 3), step, failBeforeCommit = 0)
      // rebalance: B leaves; epoch 1: A owns every partition and
      // resumes from the group's committed offsets
      runConsumer(spark, root, Set(0, 1, 2, 3), step)
    }
    finalTable(spark, root)
      .select($"event_id", $"user_id", $"event_type", $"value",
        tsOut(timestamp_seconds($"ts_s")).as("ts_sec"))
      .orderBy($"event_id")
  }

  val all: Seq[Q] = Seq(
    // Replay and group topology must not change the answer: the oracle
    // IS the batch decoder's.
    Q("q_source_offset_replay", sourceOffsetReplay _,
      streamline.batch.ProtoWire.sourceProtoSql),
    Q("q_source_rebalance", sourceRebalance _,
      streamline.batch.ProtoWire.sourceProtoSql))
}
