package streamline.batch

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import streamline.{Q, Tables}
import streamline.util.Det._

/** q_source_proto_descriptor — the DESCRIPTOR-DRIVEN SQL-type mapping
  * that was the last consciously-excluded slice of the protobuf row
  * (spark-protobuf's `from_protobuf(col, messageName, descFile)`
  * sugar; reference lineage: flink-formats/flink-protobuf and
  * spark-protobuf both consume a `protoc --descriptor_set_out` file).
  * The connector jar is absent, but a descriptor set is ITSELF a
  * protobuf message (the public `descriptor.proto`), and ProtoWire
  * already speaks the wire format — so the sugar's whole contract is
  * witnessable broker- and jar-free:
  *
  *   1. a `FileDescriptorSet` is staged next to the topic (the
  *      schema-registry artifact a deployment would fetch);
  *   2. the reader PARSES it with the same wire primitives (unknown
  *      descriptor fields skipped by wire type — descriptor.proto has
  *      dozens of fields this model doesn't need);
  *   3. the Spark schema is DERIVED from the descriptor (int64→LONG,
  *      sint64→LONG(zigzag), double→DOUBLE, string→STRING, embedded
  *      message→STRUCT, repeated→ARRAY — the SQL-type mapping itself);
  *   4. message decoding is driven ENTIRELY by the descriptor — no
  *      hand-written per-message decoder; the same generic walker
  *      handles any message the descriptor describes, including packed
  *      AND unpacked spellings of repeated scalars (decoders must
  *      accept both per the spec).
  *
  * The declared query reads the SAME staged payloads as
  * q_source_proto_nested through the descriptor path and must match
  * the identical DuckDB oracle — a decoder divergence between the
  * hand-rolled and descriptor-driven paths cannot hide.
  *
  * Scale posture: the descriptor is bytes-sized and parsed once on the
  * driver (a registry fetch); the decode is the same per-partition
  * streaming pass as every ProtoWire witness, with the field-dispatch
  * table broadcast via closure capture. */
object ProtoDescriptor {

  import ProtoWire.{Reader, writeVarint, unzigzag}

  // ---- descriptor model (subset of the public descriptor.proto) ----

  /** FieldDescriptorProto subset: `name=1`, `number=3`, `label=4`,
    * `type=5`, `type_name=6`. Labels: 1 optional, 2 required,
    * 3 repeated. Types (public enum): 1 double, 3 int64, 9 string,
    * 11 message, 18 sint64 — the shapes the staged topics use; the
    * mapping covers the full scalar table below. */
  final case class FieldDesc(name: String, number: Int, label: Int,
                             tpe: Int, typeName: String) {
    def repeated: Boolean = label == 3
  }
  /** DescriptorProto subset: `name=1`, `field=2`, `nested_type=3`. */
  final case class MessageDesc(name: String, fields: Seq[FieldDesc],
                               nested: Seq[MessageDesc])
  /** FileDescriptorProto subset: `name=1`, `package=2`,
    * `message_type=4`. */
  final case class FileDesc(name: String, pkg: String,
                            messages: Seq[MessageDesc])

  // public type-enum values used in the mapping
  val TDouble = 1; val TInt64 = 3; val TString = 9
  val TMessage = 11; val TSint64 = 18

  // ---- descriptor ENCODER (what protoc --descriptor_set_out emits) ----

  private def lenDelim(out: java.io.ByteArrayOutputStream, field: Int)(
      body: java.io.ByteArrayOutputStream => Unit): Unit = {
    val b = new java.io.ByteArrayOutputStream(64)
    body(b)
    writeVarint(out, (field.toLong << 3) | 2)
    writeVarint(out, b.size().toLong)
    b.writeTo(out)
  }

  private def str(out: java.io.ByteArrayOutputStream, field: Int,
                  s: String): Unit = {
    val bytes = s.getBytes("UTF-8")
    writeVarint(out, (field.toLong << 3) | 2)
    writeVarint(out, bytes.length.toLong)
    out.write(bytes, 0, bytes.length)
  }

  private def vint(out: java.io.ByteArrayOutputStream, field: Int,
                   v: Long): Unit = {
    writeVarint(out, (field.toLong << 3) | 0)
    writeVarint(out, v)
  }

  private def encodeField(out: java.io.ByteArrayOutputStream,
                          f: FieldDesc): Unit =
    lenDelim(out, 2) { b =>
      str(b, 1, f.name)
      vint(b, 3, f.number.toLong)
      vint(b, 4, f.label.toLong)
      vint(b, 5, f.tpe.toLong)
      if (f.typeName.nonEmpty) str(b, 6, f.typeName)
    }

  private def encodeMessage(out: java.io.ByteArrayOutputStream,
                            field: Int, m: MessageDesc): Unit =
    lenDelim(out, field) { b =>
      str(b, 1, m.name)
      m.fields.foreach(encodeField(b, _))
      m.nested.foreach(encodeMessage(b, 3, _))
    }

  /** Serialize a FileDescriptorSet (`file = 1` repeated) holding one
    * FileDescriptorProto. */
  private[streamline] def encodeDescriptorSet(fd: FileDesc): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256)
    lenDelim(out, 1) { f =>
      str(f, 1, fd.name)
      if (fd.pkg.nonEmpty) str(f, 2, fd.pkg)
      fd.messages.foreach(encodeMessage(f, 4, _))
    }
    out.toByteArray
  }

  // ---- descriptor PARSER ----

  private def parseField(buf: Array[Byte]): FieldDesc = {
    val r = new Reader(buf)
    var name = ""; var number = 0; var label = 1; var tpe = 0
    var typeName = ""
    while (r.hasMore) {
      val tag = r.readVarint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => name = new String(r.readBytes(r.readVarint().toInt), "UTF-8")
        case (3, 0) => number = r.readVarint().toInt
        case (4, 0) => label = r.readVarint().toInt
        case (5, 0) => tpe = r.readVarint().toInt
        case (6, 2) => typeName = new String(r.readBytes(r.readVarint().toInt), "UTF-8")
        case (_, w) => r.skip(w)
      }
    }
    FieldDesc(name, number, label, tpe, typeName)
  }

  private def parseMessage(buf: Array[Byte]): MessageDesc = {
    val r = new Reader(buf)
    var name = ""
    val fields = Seq.newBuilder[FieldDesc]
    val nested = Seq.newBuilder[MessageDesc]
    while (r.hasMore) {
      val tag = r.readVarint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => name = new String(r.readBytes(r.readVarint().toInt), "UTF-8")
        case (2, 2) => fields += parseField(r.readBytes(r.readVarint().toInt))
        case (3, 2) => nested += parseMessage(r.readBytes(r.readVarint().toInt))
        case (_, w) => r.skip(w)
      }
    }
    MessageDesc(name, fields.result(), nested.result())
  }

  /** Parse a FileDescriptorSet. Unknown descriptor fields — options,
    * reserved ranges, source info, everything this model doesn't need —
    * are skipped by wire type, the same forward-compatibility rule the
    * payload decoder witnesses. */
  private[streamline] def parseDescriptorSet(bytes: Array[Byte]): Seq[FileDesc] = {
    val r = new Reader(bytes)
    val files = Seq.newBuilder[FileDesc]
    while (r.hasMore) {
      val tag = r.readVarint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) =>
          val fr = new Reader(r.readBytes(r.readVarint().toInt))
          var name = ""; var pkg = ""
          val msgs = Seq.newBuilder[MessageDesc]
          while (fr.hasMore) {
            val ft = fr.readVarint()
            ((ft >>> 3).toInt, (ft & 7).toInt) match {
              case (1, 2) => name = new String(fr.readBytes(fr.readVarint().toInt), "UTF-8")
              case (2, 2) => pkg = new String(fr.readBytes(fr.readVarint().toInt), "UTF-8")
              case (4, 2) => msgs += parseMessage(fr.readBytes(fr.readVarint().toInt))
              case (_, w) => fr.skip(w)
            }
          }
          files += FileDesc(name, pkg, msgs.result())
        case (_, w) => r.skip(w)
      }
    }
    files.result()
  }

  // ---- SQL-type mapping (the sugar itself) ----

  /** Every message reachable in the set, keyed by SIMPLE name (enough
    * to resolve `type_name`s like `.graft.Props` in a single-file set;
    * a full registry would key by fully-qualified name). */
  private[streamline] def registry(files: Seq[FileDesc]): Map[String, MessageDesc] = {
    def walk(m: MessageDesc): Seq[MessageDesc] = m +: m.nested.flatMap(walk)
    files.flatMap(_.messages).flatMap(walk).map(m => m.name -> m).toMap
  }

  private def resolve(f: FieldDesc,
                      reg: Map[String, MessageDesc]): MessageDesc =
    reg.getOrElse(f.typeName.split('.').last,
      throw new IllegalArgumentException(
        s"unresolved message type ${f.typeName} for field ${f.name}"))

  /** Descriptor → Spark schema: the connector's SQL-type table for the
    * types in play. int64/sint64 → LONG, double → DOUBLE, string →
    * STRING, embedded message → STRUCT (recursively), repeated → ARRAY
    * of the element mapping. */
  private[streamline] def sparkSchema(m: MessageDesc,
      reg: Map[String, MessageDesc]): StructType = {
    def elemType(f: FieldDesc): DataType = f.tpe match {
      case TDouble  => DoubleType
      case TInt64   => LongType
      case TSint64  => LongType
      case TString  => StringType
      case TMessage => sparkSchema(resolve(f, reg), reg)
      case t => throw new IllegalArgumentException(
        s"unmapped descriptor type $t for field ${f.name}")
    }
    StructType(m.fields.map { f =>
      val t = if (f.repeated) ArrayType(elemType(f)) else elemType(f)
      StructField(f.name, t, nullable = true)
    })
  }

  // ---- descriptor-driven generic decoder ----

  /** Decode ONE message body to a Row laid out in descriptor field
    * order. Scalars: wire type checked against the declared type.
    * Repeated scalars accept BOTH spellings — packed (one
    * length-delimited run of values) and unpacked (the tag repeated
    * per element) — as the spec requires of decoders. Unknown field
    * numbers are skipped by wire type. */
  private[streamline] def decodeMessage(buf: Array[Byte], m: MessageDesc,
      reg: Map[String, MessageDesc]): Row = {
    val byNumber = m.fields.zipWithIndex
      .map { case (f, i) => f.number -> ((f, i)) }.toMap
    val cells = new Array[Any](m.fields.length)
    m.fields.zipWithIndex.foreach { case (f, i) =>
      if (f.repeated) cells(i) = List.empty[Any]
    }
    def expect(f: FieldDesc, wt: Int, want: Int): Unit =
      if (wt != want) throw new java.io.IOException(
        s"${f.name}: wire type $wt, expected $want")
    def scalar(r: Reader, f: FieldDesc, wt: Int): Any = f.tpe match {
      case TDouble =>
        expect(f, wt, 1)
        java.lang.Double.longBitsToDouble(r.readFixed64())
      case TInt64 => expect(f, wt, 0); r.readVarint()
      case TSint64 => expect(f, wt, 0); unzigzag(r.readVarint())
      case TString =>
        expect(f, wt, 2)
        new String(r.readBytes(r.readVarint().toInt), "UTF-8")
      case TMessage =>
        expect(f, wt, 2)
        decodeMessage(r.readBytes(r.readVarint().toInt), resolve(f, reg), reg)
      case t => throw new IllegalArgumentException(s"unmapped type $t")
    }
    val r = new Reader(buf)
    while (r.hasMore) {
      val tag = r.readVarint()
      val wt = (tag & 7).toInt
      byNumber.get((tag >>> 3).toInt) match {
        case None => r.skip(wt)
        case Some((f, i)) if f.repeated =>
          val packedScalar = wt == 2 &&
            (f.tpe == TInt64 || f.tpe == TSint64 || f.tpe == TDouble)
          if (packedScalar) {
            val p = new Reader(r.readBytes(r.readVarint().toInt))
            while (p.hasMore)
              cells(i) = scalar(p, f, if (f.tpe == TDouble) 1 else 0) ::
                cells(i).asInstanceOf[List[Any]]
          } else
            cells(i) = scalar(r, f, wt) :: cells(i).asInstanceOf[List[Any]]
        case Some((f, i)) => cells(i) = scalar(r, f, wt)
      }
    }
    m.fields.zipWithIndex.foreach { case (f, i) =>
      if (f.repeated) cells(i) = cells(i).asInstanceOf[List[Any]].reverse
    }
    Row.fromSeq(cells.toIndexedSeq)
  }

  /** Decode every length-prefixed frame in one payload. */
  private[streamline] def decodeFrames(payload: Array[Byte], m: MessageDesc,
      reg: Map[String, MessageDesc]): Iterator[Row] =
    new Iterator[Row] {
      private val r = new Reader(payload)
      def hasNext: Boolean = r.hasMore
      def next(): Row =
        decodeMessage(r.readBytes(r.readVarint().toInt), m, reg)
    }

  // ---- the staged descriptor (the schema-registry artifact) ----

  /** The descriptor `protoc` would emit for the nested topic:
    * `message GraftEventN { int64 event_id = 1; Props props = 2;
    * repeated int64 vals = 3; }` + `message Props { string k = 1;
    * int64 v = 2; }`. */
  private[streamline] val nestedFile = FileDesc("graft_event.proto", "graft",
    Seq(
      MessageDesc("GraftEventN", Seq(
        FieldDesc("event_id", 1, 1, TInt64, ""),
        FieldDesc("props", 2, 1, TMessage, ".graft.Props"),
        FieldDesc("vals", 3, 3, TInt64, "")), Nil),
      MessageDesc("Props", Seq(
        FieldDesc("k", 1, 1, TString, ""),
        FieldDesc("v", 2, 1, TInt64, "")), Nil)))

  // ---- the declared query ----

  /** Stage the SAME nested payloads as q_source_proto_nested (shared
    * scratch root — the stage is idempotent), write the descriptor set
    * next to them, then run the whole sugar: fetch + parse descriptor,
    * derive the Spark schema, decode generically, and project the same
    * output the hand-rolled decoder produces — against the identical
    * DuckDB oracle. */
  /** Stage payloads + descriptor and load the parsed registry — the
    * "fetch the schema from the registry" step, shared by the batch and
    * streaming descriptor witnesses. Bytes-sized, driver-side, once per
    * plan. */
  private def stagedRegistry(spark: SparkSession,
      dir: String): (String, Map[String, MessageDesc]) = {
    val root = ProtoWire.stageNested(spark, dir)
    val descFile = new java.io.File(root, "schema.desc")
    if (!descFile.exists()) {
      val tmp = new java.io.File(root, ".schema.desc.tmp")
      java.nio.file.Files.write(tmp.toPath, encodeDescriptorSet(nestedFile))
      java.nio.file.Files.move(tmp.toPath, descFile.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    }
    (root, registry(parseDescriptorSet(
      java.nio.file.Files.readAllBytes(descFile.toPath))))
  }

  private def sourceProtoDescriptor(spark: SparkSession,
                                    dir: String): DataFrame = {
    import spark.implicits._
    val (root, reg) = stagedRegistry(spark, dir)
    val msg = reg("GraftEventN")
    val schema = sparkSchema(msg, reg)
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.pb").load(root)
      .select($"content").as[Array[Byte]]
      .mapPartitions(_.flatMap(decodeFrames(_, msg, reg)))(
        org.apache.spark.sql.Encoders.row(schema))
    rows
      .select($"event_id", $"props.k".as("prop_k"), $"props.v".as("prop_v"),
        size($"vals").cast("long").as("n_vals"),
        aggregate($"vals", lit(0L), _ + _).as("sum_vals"))
      .orderBy($"event_id")
  }

  // identical fixed point as the hand-rolled nested decoder: the
  // descriptor path must reproduce it bit for bit.
  private val sourceProtoDescriptorSql = """
    SELECT event_id, event_type AS prop_k,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_v,
      CAST(3 AS BIGINT) AS n_vals,
      user_id + (event_id % 100) + 42 AS sum_vals
    FROM events ORDER BY event_id"""

  /** q_stream_proto_descriptor — the descriptor-driven decoder under
    * MICRO-BATCH execution (schema-registry consumer shape: fetch the
    * descriptor once at plan time, then decode a file stream with the
    * generic decoder): the identical staged payloads arrive through
    * `readStream.format("binaryFile")` one file per trigger, each
    * micro-batch decodes with the descriptor-derived schema, and the
    * appended union must reproduce the batch descriptor witness — and
    * therefore the same DuckDB oracle — regardless of file batching. */
  private def streamProtoDescriptor(spark: SparkSession,
                                    dir: String): DataFrame = {
    import spark.implicits._
    val (root, reg) = stagedRegistry(spark, dir)
    val msg = reg("GraftEventN")
    val schema = sparkSchema(msg, reg)
    val binSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val rows = spark.readStream.format("binaryFile").schema(binSchema)
      .option("pathGlobFilter", "*.pb")
      .option("maxFilesPerTrigger", "1")
      .load(root)
      .select($"content").as[Array[Byte]]
      .mapPartitions(_.flatMap(decodeFrames(_, msg, reg)))(
        org.apache.spark.sql.Encoders.row(schema))
      .select($"event_id", $"props.k".as("prop_k"), $"props.v".as("prop_v"),
        size($"vals").cast("long").as("n_vals"),
        aggregate($"vals", lit(0L), _ + _).as("sum_vals"))
    streamline.stream.Streams
      .runToTable(spark, "proton_stream", "append", rows)
      .orderBy($"event_id")
  }

  val all: Seq[Q] = Seq(
    Q("q_source_proto_descriptor", sourceProtoDescriptor _,
      sourceProtoDescriptorSql),
    Q("q_stream_proto_descriptor", streamProtoDescriptor _,
      sourceProtoDescriptorSql))
}
