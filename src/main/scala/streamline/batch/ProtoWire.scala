package streamline.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import streamline.Q
import streamline.Tables
import streamline.util.Det._

/** q_source_proto — the protobuf WIRE FORMAT end to end, closing the
  * §2.1 protobuf row the same way round 10 closed the Avro one
  * (q_source_avro): the DataSource connector (spark-protobuf) is absent
  * from the distribution, but the wire format itself is a small public
  * spec — varints (little-endian base-128), tags (`field# << 3 |
  * wire_type`), zigzag for signed ints, little-endian fixed64/fixed32,
  * length-delimited strings, and length-prefixed message framing (the
  * `writeDelimitedTo` convention) — so a hand-rolled codec over
  * per-partition binary payloads witnesses the format handling that a
  * wire format IS. What remains excluded is only the connector's
  * descriptor-driven SQL-type mapping sugar.
  *
  * The encoder additionally plants two fields the decoder does NOT
  * know (a length-delimited #6 and a fixed32 #7), so the read path
  * also witnesses protobuf's forward-compatibility contract: unknown
  * fields are skipped by wire type, not errors.
  *
  * Scale: encode and decode are both per-partition streaming passes
  * (the sanctioned imperative case — no Spark operator expresses byte
  * framing); scratch stands in for shared storage exactly like the
  * other sink witnesses.
  */
object ProtoWire {

  // ---- wire primitives (public protobuf encoding spec) ----

  private[streamline] def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private[streamline] def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  private[streamline] def writeVarint(out: java.io.OutputStream,
                                 v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write((v & 0x7F).toInt)
  }

  /** Mutable cursor over one framed payload; throws on truncation
    * instead of fabricating values from a short read. */
  private[streamline] final class Reader(buf: Array[Byte]) {
    var pos: Int = 0
    def hasMore: Boolean = pos < buf.length
    private def byte(): Int = {
      if (pos >= buf.length)
        throw new java.io.EOFException(s"truncated varint at $pos")
      val b = buf(pos) & 0xFF
      pos += 1
      b
    }
    def readVarint(): Long = {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        if (shift >= 64)
          throw new java.io.IOException(s"malformed varint at $pos")
        b = byte()
        v |= (b & 0x7FL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    def readFixed64(): Long = {
      if (pos + 8 > buf.length)
        throw new java.io.EOFException(s"truncated fixed64 at $pos")
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | (buf(pos + i) & 0xFFL); i -= 1 }
      pos += 8
      v
    }
    def readBytes(n: Int): Array[Byte] = {
      if (n < 0 || pos + n > buf.length)
        throw new java.io.EOFException(s"truncated bytes($n) at $pos")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      out
    }
    /** Skip one field's value by wire type — protobuf's
      * forward-compatibility rule for unknown field numbers. */
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint(): Unit
      case 1 => readBytes(8): Unit
      case 2 => readBytes(readVarint().toInt): Unit
      case 5 => readBytes(4): Unit
      case t => throw new java.io.IOException(s"unsupported wire type $t")
    }
  }

  // ---- GraftEvent message codec ----

  private[streamline] final case class GraftEvent(eventId: Long, userId: Long,
      eventType: String, value: Double, tsS: Long)

  /** One length-prefixed message per event. Field layout:
    * 1 event_id int64 varint · 2 user_id sint64 zigzag · 3 event_type
    * string · 4 value double fixed64 · 5 ts_s int64 varint · 6/7
    * planted unknown fields (string + fixed32) the decoder skips. */
  private[streamline] def encodeDelimited(out: java.io.OutputStream,
                                     e: GraftEvent): Unit = {
    val body = new java.io.ByteArrayOutputStream(64)
    writeVarint(body, (1L << 3) | 0); writeVarint(body, e.eventId)
    writeVarint(body, (2L << 3) | 0); writeVarint(body, zigzag(e.userId))
    val et = e.eventType.getBytes("UTF-8")
    writeVarint(body, (3L << 3) | 2); writeVarint(body, et.length.toLong)
    body.write(et, 0, et.length)
    writeVarint(body, (4L << 3) | 1)
    // raw bits: protobuf copies the 8 bytes as-is, so even
    // non-canonical NaN payloads survive the wire
    val bits = java.lang.Double.doubleToRawLongBits(e.value)
    var i = 0
    while (i < 8) { body.write(((bits >>> (8 * i)) & 0xFF).toInt); i += 1 }
    writeVarint(body, (5L << 3) | 0); writeVarint(body, e.tsS)
    // planted unknown fields: forward-compat witness for the decoder
    val fwd = "fwd".getBytes("UTF-8")
    writeVarint(body, (6L << 3) | 2); writeVarint(body, fwd.length.toLong)
    body.write(fwd, 0, fwd.length)
    writeVarint(body, (7L << 3) | 5)
    i = 0
    while (i < 4) { body.write((e.eventId & 0xFF).toInt); i += 1 }
    writeVarint(out, body.size().toLong)
    body.writeTo(out)
  }

  /** Decode every framed message in one payload. Unknown field numbers
    * are skipped by wire type; a known field with the WRONG wire type
    * is a format error, not a skip. */
  private[streamline] def decodeAll(payload: Array[Byte]): Iterator[GraftEvent] =
    new Iterator[GraftEvent] {
      private val r = new Reader(payload)
      def hasNext: Boolean = r.hasMore
      def next(): GraftEvent = {
        val len = r.readVarint().toInt
        val m = new Reader(r.readBytes(len))
        var eventId = 0L; var userId = 0L; var eventType = ""
        var value = 0.0; var tsS = 0L
        while (m.hasMore) {
          val tag = m.readVarint()
          val field = (tag >>> 3).toInt
          val wt = (tag & 7).toInt
          def expect(w: Int): Unit =
            if (wt != w) throw new java.io.IOException(
              s"field $field: wire type $wt, expected $w")
          field match {
            case 1 => expect(0); eventId = m.readVarint()
            case 2 => expect(0); userId = unzigzag(m.readVarint())
            case 3 => expect(2)
              eventType = new String(m.readBytes(m.readVarint().toInt), "UTF-8")
            case 4 => expect(1)
              value = java.lang.Double.longBitsToDouble(m.readFixed64())
            case 5 => expect(0); tsS = m.readVarint()
            case _ => m.skip(wt)
          }
        }
        GraftEvent(eventId, userId, eventType, value, tsS)
      }
    }

  // ---- nested / repeated message codec (q_source_proto_nested) ----

  /** GraftEventN: `1 event_id int64` · `2 props` EMBEDDED message
    * (`1 k string · 2 v int64`) · `3 vals` repeated int64 PACKED
    * (wiretype 2, concatenated varints — proto3's default repeated
    * scalar encoding). Exercises the two composite shapes the flat
    * message can't: length-delimited sub-messages and packed
    * repetition. */
  private[streamline] final case class GraftEventN(eventId: Long,
      propK: String, propV: Long, vals: Seq[Long])

  private[streamline] def encodeNestedDelimited(
      out: java.io.OutputStream, e: GraftEventN): Unit = {
    val body = new java.io.ByteArrayOutputStream(64)
    writeVarint(body, (1L << 3) | 0); writeVarint(body, e.eventId)
    val props = new java.io.ByteArrayOutputStream(16)
    val kb = e.propK.getBytes("UTF-8")
    writeVarint(props, (1L << 3) | 2); writeVarint(props, kb.length.toLong)
    props.write(kb, 0, kb.length)
    writeVarint(props, (2L << 3) | 0); writeVarint(props, e.propV)
    writeVarint(body, (2L << 3) | 2); writeVarint(body, props.size().toLong)
    props.writeTo(body)
    val packed = new java.io.ByteArrayOutputStream(16)
    e.vals.foreach(writeVarint(packed, _))
    writeVarint(body, (3L << 3) | 2); writeVarint(body, packed.size().toLong)
    packed.writeTo(body)
    writeVarint(out, body.size().toLong)
    body.writeTo(out)
  }

  private[streamline] def decodeNestedAll(
      payload: Array[Byte]): Iterator[GraftEventN] =
    new Iterator[GraftEventN] {
      private val r = new Reader(payload)
      def hasNext: Boolean = r.hasMore
      def next(): GraftEventN = {
        val m = new Reader(r.readBytes(r.readVarint().toInt))
        var eventId = 0L; var propK = ""; var propV = 0L
        var vals = List.empty[Long]
        while (m.hasMore) {
          val tag = m.readVarint()
          ((tag >>> 3).toInt, (tag & 7).toInt) match {
            case (1, 0) => eventId = m.readVarint()
            case (2, 2) =>
              val p = new Reader(m.readBytes(m.readVarint().toInt))
              while (p.hasMore) {
                val pt = p.readVarint()
                ((pt >>> 3).toInt, (pt & 7).toInt) match {
                  case (1, 2) =>
                    propK = new String(p.readBytes(p.readVarint().toInt), "UTF-8")
                  case (2, 0) => propV = p.readVarint()
                  case (_, w) => p.skip(w)
                }
              }
            case (3, 2) =>
              val p = new Reader(m.readBytes(m.readVarint().toInt))
              while (p.hasMore) vals ::= p.readVarint()
            case (_, w) => m.skip(w)
          }
        }
        GraftEventN(eventId, propK, propV, vals.reverse)
      }
    }

  // ---- shared stage writer ----

  /** Idempotent per-partition stage write shared by the three proto
    * queries: each partition STREAMS its rows' framed messages through
    * a buffered file stream — constant memory per task, where the
    * earlier whole-partition ByteArrayOutputStream would hit the ~2 GB
    * JVM array limit long before the scale the operator claims — then
    * publishes via atomic rename; [[streamline.util.Scratch.staged]]
    * makes re-entry free. Returns the stage root. */
  private def stageWrite[T](name: String, dir: String,
      ds: org.apache.spark.sql.Dataset[T])(
      enc: (java.io.OutputStream, T) => Unit): String =
    streamline.util.Scratch.staged(name, dir) { root =>
      import ds.sparkSession.implicits._
      ds.repartition(4).mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        // Attempt id in the temp name: a speculative/retried attempt for
        // the same partition must never share a temp file with the first
        // (interleaved writes would publish a corrupt payload through the
        // rename); the rename itself still wins atomically either way.
        val att = org.apache.spark.TaskContext.get().taskAttemptId()
        val tmpF = new java.io.File(root, s".part-$pid-$att.pb.tmp")
        val os = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(tmpF), 1 << 16)
        var n = 0L
        try it.foreach { e => enc(os, e); n += 1 } finally os.close()
        if (!tmpF.renameTo(new java.io.File(root, s"part-$pid.pb")))
          throw new java.io.IOException(s"proto publish failed: $pid")
        Iterator(n)
      }.reduce(_ + _): Unit
    }

  // ---- the declared query ----

  /** Write `events` as length-delimited GraftEvent payloads (one binary
    * file per partition, temp + atomic-rename publish, staged once
    * for idempotent re-entry), read them back through a `binaryFile` scan +
    * the generic decoder, and emit the rows. Timestamps travel as epoch
    * SECONDS (second truncation is the events-table oracle discipline,
    * SURVEY §7.3.4) and come back as timestamp_ntz. */
  private def sourceProto(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = stageWrite("proto", dir,
      Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"event_type", $"value",
          unix_timestamp(date_trunc("second", $"ts")).as("ts_s"))
        .as[(Long, Long, String, Double, Long)]) {
      case (os, (id, u, et, v, ts)) =>
        encodeDelimited(os, GraftEvent(id, u, et, v, ts))
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.pb").load(root)
      .select($"content").as[Array[Byte]]
      .mapPartitions(_.flatMap(decodeAll))
      .toDF()
      .select($"eventId".as("event_id"), $"userId".as("user_id"),
        $"eventType".as("event_type"), $"value",
        tsOut(timestamp_seconds($"tsS")).as("ts_sec"))
      .orderBy($"event_id")
  }

  private[streamline] val sourceProtoSql = """
    SELECT event_id, user_id, event_type, value,
      date_trunc('second', ts) AS ts_sec
    FROM events ORDER BY event_id"""

  /** q_source_proto_nested — the COMPOSITE protobuf shapes the flat
    * witness can't reach: an embedded message (the event's JSON props
    * re-serialized as a `Props{k,v}` sub-message) and a packed
    * repeated int64 field, round-tripped through the same
    * per-partition write / binaryFile-scan read as q_source_proto.
    * The oracle derives every field independently from the events
    * table (the JSON extraction happens on BOTH sides, so an encoder
    * bug can't cancel out). */
  /** Nested-topic staging, shared with q_source_proto_descriptor (the
    * descriptor path must read the IDENTICAL payloads the hand-rolled
    * decoder reads). Idempotent via stageWrite; returns the root. */
  private[streamline] def stageNested(spark: SparkSession,
                                      dir: String): String = {
    import spark.implicits._
    stageWrite("proton", dir,
      Tables.events(spark, dir)
        .select($"event_id", $"event_type",
          get_json_object($"props", "$.k").cast("long").as("pv"),
          $"user_id")
        .as[(Long, String, Long, Long)]) {
      case (os, (id, et, pv, uid)) =>
        encodeNestedDelimited(os,
          GraftEventN(id, et, pv, Seq(uid, id % 100, 42L)))
    }
  }

  private def sourceProtoNested(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = stageNested(spark, dir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.pb").load(root)
      .select($"content").as[Array[Byte]]
      .mapPartitions(_.flatMap(decodeNestedAll))
      .map(e => (e.eventId, e.propK, e.propV, e.vals.length.toLong,
        e.vals.sum))
      .toDF("event_id", "prop_k", "prop_v", "n_vals", "sum_vals")
      .orderBy($"event_id")
  }

  private[streamline] val sourceProtoNestedSql = """
    SELECT event_id, event_type AS prop_k,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_v,
      CAST(3 AS BIGINT) AS n_vals,
      user_id + (event_id % 100) + 42 AS sum_vals
    FROM events ORDER BY event_id"""

  /** q_stream_proto — STREAMING protobuf ingest, the use-case the wire
    * format exists for (log-structured event feeds): the same
    * length-delimited GraftEvent payloads arrive as a FILE STREAM
    * (`readStream.format("binaryFile")`, one file per micro-batch),
    * are decoded per-partition by the same generic decoder as the
    * batch witness, and flow into a windowed aggregate drained to
    * completion — so the decode path is witnessed under micro-batch
    * execution, not just a one-shot scan. Complete output mode: the
    * final totals must equal the batch oracle regardless of how the
    * files were batched. */
  private def streamProto(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = stageWrite("protostream", dir,
      Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"event_type", $"value",
          unix_timestamp(date_trunc("second", $"ts")).as("ts_s"))
        .as[(Long, Long, String, Double, Long)]) {
      case (os, (id, u, et, v, ts)) =>
        encodeDelimited(os, GraftEvent(id, u, et, v, ts))
    }
    val binSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val agg = spark.readStream.format("binaryFile").schema(binSchema)
      .option("pathGlobFilter", "*.pb")
      .option("maxFilesPerTrigger", "1")
      .load(root)
      .select($"content").as[Array[Byte]]
      .mapPartitions(_.flatMap(decodeAll))
      .select($"eventType".as("event_type"),
        timestamp_seconds($"tsS").as("ts"), $"value")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum("value").as("sum_val"))
      .select(tsOut($"window.start").as("w_start"), $"event_type",
        $"n", $"sum_val")
    streamline.stream.Streams
      .runToTable(spark, "proto_stream", "complete", agg)
      .orderBy($"w_start", $"event_type")
  }

  private val streamProtoSql = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
      event_type, count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  val all: Seq[Q] = Seq(
    Q("q_source_proto", sourceProto _, sourceProtoSql),
    Q("q_source_proto_nested", sourceProtoNested _, sourceProtoNestedSql),
    Q("q_stream_proto", streamProto _, streamProtoSql))
}
