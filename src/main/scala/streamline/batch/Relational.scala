package streamline.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import streamline.{Q, Tables}
import streamline.util.Det._

/** §2.1 scans/sources/sinks, §2.2 projection/filter/flatMap, §2.6
  * sort/limit, §2.7 set operations — the row-pipeline surface of the
  * reference lineage (Flink 1.x DataSet map/filter/flatMap operators and
  * file input/output formats; SURVEY.md §2.1–2.2, §2.6–2.7).
  *
  * Scale posture: each of these is a single declarative pipeline, so
  * Catalyst pushes predicates and projections into the Parquet scan
  * (verified via .explain: PushedFilters / ReadSchema) and whole-stage
  * codegen fuses project→filter chains into one stage — the analogue of
  * Flink's operator chaining. The only shuffles are the final
  * global sorts, which at cluster scale are range-partitioned
  * (sample-based) and therefore scale linearly.
  */
object Relational {

  // ---- §2.1 scans -------------------------------------------------------

  /** q_scan_parquet — plain bounded columnar scan. */
  private def scanParquet(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
        tsOut($"o_orderdate").as("o_orderdate"), $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  private val scanParquetSql = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
           o_orderpriority
    FROM orders ORDER BY o_orderkey"""

  /** q_scan_prune — projection + predicate reach the Parquet reader
    * (column pruning / filter pushdown; Flink's Projectable/
    * FilterableTableSource equivalent, here free via Catalyst). */
  private def scanPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .where($"l_quantity" >= 10 && $"l_quantity" <= 20 &&
        $"l_returnflag" === "A")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  private val scanPruneSql = """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 10 AND l_quantity <= 20 AND l_returnflag = 'A'
    ORDER BY l_orderkey, l_linenumber"""

  /** q_scan_nested_prune — NESTED schema pruning: at 100 TB a wide
    * struct column (event envelope, protobuf-derived record) is the
    * norm, and a scan that materializes the whole struct to project
    * one sub-field reads multiples of the bytes it needs. Stage events
    * with a 3-field `meta` struct, project exactly one sub-field
    * through an aggregate, and rely on Catalyst's nested-schema
    * pruning to narrow the parquet ReadSchema to
    * `meta:struct<etype>` — ScanNestedPruneSpec pins the plan (the
    * sibling sub-fields must NOT appear in the scan), this query pins
    * the values. */
  private def scanNestedPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stage = streamline.util.Scratch.staged("nested", dir) { root =>
      Tables.events(spark, dir)
        .select($"event_id",
          struct($"user_id".as("user"), $"event_type".as("etype"),
            $"value".as("v")).as("meta"))
        .write.parquet(s"$root/data")
    } + "/data"
    spark.read.parquet(stage)
      .groupBy($"meta.etype".as("etype"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"etype")
  }

  /** exposed for ScanNestedPruneSpec's ReadSchema pin */
  private[streamline] def scanNestedPruneDf(spark: SparkSession,
                                            dir: String): DataFrame =
    scanNestedPrune(spark, dir)

  private val scanNestedPruneSql = """
    SELECT event_type AS etype, count(*) AS n
    FROM events GROUP BY 1 ORDER BY 1"""

  /** q_source_json — JSON payload deserialization (Flink flink-json
    * DeserializationSchema equivalent → from_json).
    *
    * Round-2 bench recorded a 7× swing (0.70→4.95 s) with this code
    * unchanged; root-caused round 3 as environmental, not algorithmic:
    * isolated runs measure 0.74 s, a fresh full-bench run measures
    * 0.54 s, and the spike never reproduces. The one repeatable effect
    * is ±0.4 s of noise when scheduled right after the streaming
    * foreachBatch sink (GC of its micro-batch state). from_json with a
    * 1-field schema is already the cheap single-pass parse; keeping it
    * over get_json_object because it yields a typed column without a
    * second string pass. */
  private def sourceJson(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_id",
        from_json($"props", org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k").as("k"))
      .where($"k".isNotNull)
      .orderBy($"event_id")
  }

  private val sourceJsonSql = """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
    ORDER BY event_id"""

  /** q_source_csv — CSV format source/sink (Flink flink-csv
    * RowCsvInputFormat equivalent): the nation table round-trips
    * through a real CSV file on disk — quoted strings, explicit schema,
    * no inference — and must come back bit-identical to the parquet
    * original (the oracle reads the parquet). Int/string columns only:
    * CSV is not a lossless float transport, which is exactly why the
    * fixture for this capability is the textual table. */
  private def sourceCsv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("csv_nation", dir)
    val nation = Tables.nation(spark, dir)
    nation.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .csv(tmp)
    spark.read
      .schema(nation.schema)
      .option("header", "true")
      .csv(tmp)
      .orderBy($"n_nationkey")
  }

  private val sourceCsvSql = """
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation ORDER BY n_nationkey"""

  /** q_source_csv_multiline — RFC 4180 CSV with quoted embedded
    * newlines (real-world CSV: free-text columns carry line breaks).
    * Every document's spaces become newlines, the write quotes all
    * fields, and the read uses `multiLine` — which is the scale trap
    * this witnesses: a multiLine CSV file is NOT SPLITTABLE (a record
    * boundary can sit at any byte offset), so one file = one task no
    * matter its size. The write therefore shards first, same discipline
    * as the gzip witness; the comparison is a content digest against
    * the parquet original, so any quoting/parsing loss flips the hash. */
  private def sourceCsvMultiline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("csv_ml", dir)
    val docs = Tables.documents(spark, dir)
      .select($"doc_id",
        regexp_replace($"text", " ", "\n").as("text_nl"), $"lang")
    docs.repartition(4) // shard first: multiLine CSV is one-task-per-file
      .write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .csv(tmp)
    spark.read
      .schema(docs.schema)
      .option("header", "true").option("multiLine", "true")
      .csv(tmp)
      .select($"doc_id", sha2($"text_nl", 256).as("sha"),
        length($"text_nl").as("n_chars"), $"lang")
      .orderBy($"doc_id")
  }

  private val sourceCsvMultilineSql = """
    SELECT doc_id, sha256(replace(text, ' ', chr(10))) AS sha,
      length(replace(text, ' ', chr(10))) AS n_chars, lang
    FROM documents ORDER BY doc_id"""

  /** q_source_json_multiline — multiLine (document-style) JSON source:
    * each file holds ONE pretty-printed JSON ARRAY of records — the
    * shape of API exports and config dumps, vs q_source_jsonl_gz's
    * line-per-record wire form. Same scale discipline as the other
    * non-splittable sources: a multiLine JSON file is one task at any
    * size (the parser must see the whole document), so the write
    * SHARDS FIRST (4 array files) and each task builds its array
    * per-partition — no driver-side collect. Doubles round-trip
    * bit-exact through Spark's shortest-repr JSON formatting (the
    * jsonl_gz precedent); oracle reads the parquet original. */
  private def sourceJsonMultiline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("json_ml", dir)
    val proj = Tables.supplier(spark, dir)
      .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
    proj.repartition(4) // shard first: multiLine JSON is one-task-per-file
      .toJSON
      .mapPartitions(it => Iterator(it.mkString("[\n", ",\n", "\n]")))
      .write.mode("overwrite").text(tmp)
    spark.read.schema(proj.schema)
      .option("multiLine", "true").json(tmp)
      .orderBy($"s_suppkey")
  }

  private val sourceJsonMultilineSql = """
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier ORDER BY s_suppkey"""

  /** q_source_jsonl_gz — gzip-compressed JSON-lines round-trip, the
    * de-facto wire format of web-scale training corpora (every crawl
    * pipeline ships .jsonl.gz shards). The scale trap this witnesses
    * around: gzip is NOT splittable, so one .gz file = one task no
    * matter its size — a single 100 GB shard serializes the whole
    * scan. The write therefore SHARDS FIRST (repartition before the
    * codec) so the read side gets file-level parallelism; doubles
    * round-trip bit-exact through Spark's shortest-repr JSON
    * formatting. Oracle reads the parquet original. */
  private def sourceJsonlGz(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("jsonl_gz", dir)
    val proj = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    proj.repartition(4) // shard BEFORE compressing: .gz is one-task-per-file
      .write.mode("overwrite")
      .option("compression", "gzip")
      .json(tmp)
    spark.read
      .schema(proj.schema)
      .json(tmp)
      .orderBy($"event_id")
  }

  private val sourceJsonlGzSql = """
    SELECT event_id, user_id, event_type, value
    FROM events ORDER BY event_id"""

  /** q_source_text — line-oriented text source + WordCount (the
    * lineage's founding example: readTextFile → flatMap(split) →
    * groupBy(word).sum; upstream
    * `flink-examples-batch/.../wordcount/WordCount.java`). Document
    * texts round-trip through real `.txt` line files on disk, are read
    * back with the text source, tokenized and counted. Scale: the text
    * scan is splittable by line, tokenize is a projection, the count is
    * one keyed shuffle — the canonical map/reduce shape. */
  private def sourceText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("txt_docs", dir)
    Tables.documents(spark, dir).select($"text")
      .write.mode("overwrite").text(tmp)
    spark.read.text(tmp)
      .select(explode(split($"value", " ")).as("word"))
      .where($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .orderBy($"word")
  }

  private val sourceTextSql = """
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents)
    SELECT word, count(*) AS n FROM w
    WHERE word <> '' GROUP BY word ORDER BY word"""

  /** q_source_orc — ORC format source/sink (the lineage ships a
    * flink-orc module): the supplier table round-trips through real ORC
    * files and must come back identical to the parquet original (the
    * oracle reads the parquet). ORC is the second columnar format a
    * warehouse migration meets; predicate pushdown and column pruning
    * apply to the ORC scan exactly as to parquet. */
  private def sourceOrc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("orc_supplier", dir)
    Tables.supplier(spark, dir).write.mode("overwrite").orc(tmp)
    spark.read.orc(tmp).orderBy($"s_suppkey")
  }

  private val sourceOrcSql = """
    SELECT * FROM supplier ORDER BY s_suppkey"""

  /** q_source_avro — the Avro WIRE FORMAT end to end, closing the §2.1
    * Avro row (previously recorded environment-blocked because
    * spark-avro, the DataSource connector, is absent): the Avro CORE
    * library (avro-1.12, on every Spark classpath) is driven directly
    * — a distributed mapPartitions writes one object-container file
    * per partition (declared record schema, deflate codec, temp +
    * atomic-rename publish), and the read path decodes the containers
    * from a `binaryFile` scan (schema read from the container header,
    * as Avro consumers do). What remains excluded is only the
    * connector's SQL-type mapping sugar; the format handling —
    * container framing, codec, schema declaration/resolution — is the
    * part a wire format IS, and it is witnessed here against the
    * parquet oracle. Scale: write and decode are both per-partition
    * streaming passes; scratch stands in for shared storage exactly
    * like the other sink witnesses. */
  private def sourceAvro(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schemaJson = """{"type":"record","name":"GraftOrder","fields":[
      {"name":"o_orderkey","type":"long"},
      {"name":"o_custkey","type":"long"},
      {"name":"o_totalprice","type":"double"},
      {"name":"o_orderstatus","type":"string"}]}"""
    val root = streamline.util.Scratch.staged("avro", dir) { root =>
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
          $"o_orderstatus")
        .as[(Long, Long, Double, String)]
        .repartition(4)
        .mapPartitions { it =>
          val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val tmpF = new java.io.File(root, s".part-$pid.avro.tmp")
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(3))
          w.create(schema, tmpF)
          var n = 0L
          it.foreach { case (k, c, p, s) =>
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            rec.put("o_orderkey", k)
            rec.put("o_custkey", c)
            rec.put("o_totalprice", p)
            rec.put("o_orderstatus", s)
            w.append(rec)
            n += 1
          }
          w.close()
          if (!tmpF.renameTo(new java.io.File(root, s"part-$pid.avro")))
            throw new java.io.IOException(s"avro publish failed: $pid")
          Iterator(n)
        }.reduce(_ + _): Unit
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.avro").load(root)
      .select($"content").as[Array[Byte]]
      .mapPartitions { files =>
        files.flatMap { bytes =>
          val rdr = new org.apache.avro.file.DataFileReader(
            new org.apache.avro.file.SeekableByteArrayInput(bytes),
            new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord]())
          val buf = scala.collection.mutable
            .ArrayBuffer.empty[(Long, Long, Double, String)]
          while (rdr.hasNext) {
            val r = rdr.next()
            buf += ((r.get("o_orderkey").asInstanceOf[Long],
              r.get("o_custkey").asInstanceOf[Long],
              r.get("o_totalprice").asInstanceOf[Double],
              r.get("o_orderstatus").toString))
          }
          rdr.close()
          buf
        }
      }
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec("o_totalprice"))).as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  private val sourceAvroSql = """
    SELECT o_orderstatus, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** q_source_xml — XML format source/sink, NATIVE in Spark 4
    * (SPARK-44265 folded the spark-xml connector into sql/core): write
    * `nation` as row-tagged XML documents, read back under the
    * explicit schema (no inference — the same no-inference discipline
    * as the CSV witness; typed fields parse from element text). The
    * comment column carries punctuation that must survive XML
    * entity escaping, so the roundtrip witnesses the escaper, not just
    * a happy-path tag walk. Same scale posture as the other textual
    * sources: row-tagged XML splits on row boundaries per file, files
    * shard the write; int/string columns only (XML is not a lossless
    * float transport, the CSV precedent). */
  private def sourceXml(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("xml_nation", dir)
    val nation = Tables.nation(spark, dir)
    nation.write.mode("overwrite")
      .option("rootTag", "nations").option("rowTag", "nation")
      .xml(tmp)
    spark.read
      .schema(nation.schema)
      .option("rowTag", "nation")
      .xml(tmp)
      .orderBy($"n_nationkey")
  }

  private val sourceXmlSql = """
    SELECT * FROM nation ORDER BY n_nationkey"""

  /** q_scan_metadata — the hidden `_metadata` file-source column
    * (file_name / file_size / row_index): per-file provenance exposed
    * by the scan itself, no path parsing, no extra I/O — the lineage
    * column every audit and incremental pipeline wants ("which shard
    * did this row come from, at which position"). row_index pins
    * in-file row order (0..n−1 contiguous), the property that makes
    * file-granular resume/dedup possible. The witness is
    * layout-independent: it asserts the per-file contract (row_index
    * 0-based and gap-free in every file) and the global row count, so
    * it holds whether the fixture is staged as one parquet file or
    * many. The schema-inference `nanosAsLong` flag is scoped
    * `withConfs` with the one-row result FORCED inside it — the same
    * metadata-scale materialization as scanAggPushdown — so no global
    * conf leaks out of the query. */
  private def scanMetadata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (rows, schema) = SkewJoin.withConfs(spark, Seq(
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")) {
      val df = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("_metadata.file_name").as("file_name"),
          col("_metadata.row_index").as("row_index"))
        .groupBy($"file_name")
        .agg(count(lit(1)).as("n_rows"),
          min($"row_index").as("min_idx"),
          max($"row_index").as("max_idx"))
        .agg(sum($"n_rows").as("n_rows"),
          // contiguity: each file spans exactly its own row count …
          sum($"max_idx" - $"min_idx" + 1).as("n_rows_spanned"),
          // … starting at index 0
          max($"min_idx").as("max_first_idx"))
      (df.collect().toSeq, df.schema)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  private val scanMetadataSql = """
    SELECT count(*) AS n_rows,
      count(*) AS n_rows_spanned,
      CAST(0 AS BIGINT) AS max_first_idx
    FROM lineitem"""

  /** q_cache_reuse — `persist`/cache: one expensive keyed aggregate
    * materialized (columnar, MEMORY_AND_DISK) and consumed by TWO
    * downstream aggregations, so the shuffle+agg runs ONCE — the
    * iterative/multi-consumer reuse pattern (Flink's equivalent is a
    * shared intermediate result; Spark makes it explicit). The second
    * consumer's plan reads InMemoryTableScan, not a re-shuffle —
    * pinned in CacheReuseSpec. The result is collected and the cache
    * released BEFORE returning, so the witness leaves no pinned
    * executor memory behind (at 100 TB an un-dropped cache is a
    * cluster-wide memory leak). MEMORY_AND_DISK because a cache that
    * only fits memory silently recomputes on eviction — disk spill
    * keeps reuse O(read), never O(recompute). */
  private def cacheReuse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perSupp = Tables.lineitem(spark, dir)
      .groupBy($"l_suppkey")
      .agg(dsum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val busy = perSupp.where($"n_items" >= 30)
        .agg(count(lit(1)).as("n_busy"))
      val global = perSupp.agg(
        count(lit(1)).as("n_suppliers"),
        asDouble(max($"sum_qty")).as("max_qty"),
        asDouble(min($"sum_qty")).as("min_qty"))
      val Array(b) = busy.collect()
      val Array(g) = global.collect()
      spark.createDataFrame(Seq((
        g.getLong(0), b.getLong(0), g.getDouble(1), g.getDouble(2))))
        .toDF("n_suppliers", "n_busy", "max_qty", "min_qty")
    } finally perSupp.unpersist()
  }

  private val cacheReuseSql = """
    WITH s AS (SELECT l_suppkey,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        count(*) AS n_items
      FROM lineitem GROUP BY l_suppkey)
    SELECT (SELECT count(*) FROM s) AS n_suppliers,
      (SELECT count(*) FROM s WHERE n_items >= 30) AS n_busy,
      (SELECT max(sum_qty) FROM s) AS max_qty,
      (SELECT min(sum_qty) FROM s) AS min_qty"""

  /** q_sink_roundtrip — durable write + re-read (Flink file OutputFormat
    * equivalent). The roundtrip is through real parquet on disk. */
  private def sinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("roundtrip", dir)
    Tables.customer(spark, dir)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), dsum("c_acctbal").as("sum_bal"))
      .write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).orderBy($"c_mktsegment")
  }

  private val sinkRoundtripSql = """
    SELECT c_mktsegment, count(*) AS n_cust,
      CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** q_sink_partitioned — Hive-style partitioned sink + pruned re-read:
    * documents written `partitionBy(lang)`, then read back under a
    * partition-column predicate. THE layout decision at 100 TB: the
    * `lang = 'en'` predicate resolves against directory names during
    * planning (PartitionFilters in the scan node), so no file of any
    * other partition is even opened — a selective read costs O(matching
    * partition), not O(corpus). Partition count scales with the
    * column's cardinality, not the data; writers append partitions
    * independently with no coordination. */
  private def sinkPartitioned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("part_docs", dir)
    Tables.documents(spark, dir)
      .write.mode("overwrite").partitionBy("lang").parquet(tmp)
    spark.read.parquet(tmp)
      .where($"lang" === "en")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"source")
  }

  private val sinkPartitionedSql = """
    SELECT source, count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE lang = 'en'
    GROUP BY source ORDER BY source"""

  /** q_sink_dynamic_overwrite — dynamic partition overwrite
    * (`partitionOverwriteMode=dynamic`): an overwrite-mode partitioned
    * write replaces ONLY the partitions present in the incoming
    * DataFrame, leaving every other partition's files untouched — the
    * idempotent daily-backfill primitive (Flink's
    * `FileSystemTableSink` partition-commit overwrite; Hive INSERT
    * OVERWRITE ... PARTITION). The witness writes events partitioned
    * by epoch-day, then overwrites the FIRST day with corrected rows
    * (values doubled); the read-back must show exactly that day
    * changed and every other day byte-identical. Static mode here
    * would silently truncate the whole table — the difference between
    * a backfill and a data-loss incident at 100 TB. Partition column
    * is an epoch-day BIGINT (µs DIV 86_400_000_000), not a
    * session-timezone date. */
  private def sinkDynamicOverwrite(spark: SparkSession,
                                   dir: String): DataFrame = {
    import spark.implicits._
    val root = streamline.util.Scratch.fresh("dynover", dir)
    val ev = Tables.events(spark, dir)
      // FLOOR division (subtract pmod first — DIV alone truncates
      // toward zero): keeps day bucketing aligned with the oracle's
      // `//` even for pre-1970 timestamps, where truncation and floor
      // diverge by one day.
      .withColumn("day_num", expr(
        "(unix_micros(ts) - pmod(unix_micros(ts), 86400000000))" +
          " DIV 86400000000"))
    SkewJoin.withConfs(spark, Seq(
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
      ev.write.partitionBy("day_num").parquet(root)
      // One-scalar collect (metadata-scale): the backfill target day.
      val firstDay = ev.agg(min($"day_num")).head().getLong(0)
      ev.where($"day_num" === firstDay)
        .withColumn("value", $"value" * 2) // the "correction"
        .write.mode("overwrite").partitionBy("day_num").parquet(root)
    }
    spark.read.parquet(root)
      .groupBy($"day_num".cast("bigint").as("day_num"))
      .agg(count(lit(1)).as("n"), dsum("value").as("sum_val"))
      .orderBy($"day_num")
  }

  // Per-day aggregate of the post-backfill table: first day doubled,
  // the rest unchanged.
  private val sinkDynamicOverwriteSql = """
    WITH e AS (SELECT CAST(epoch_us(date_trunc('microseconds', ts))
                   // 86400000000 AS BIGINT) AS day_num, value
               FROM events),
    d0 AS (SELECT min(day_num) AS d FROM e)
    SELECT day_num, count(*) AS n,
      CAST(sum(CAST(CASE WHEN day_num = (SELECT d FROM d0)
                         THEN value * 2 ELSE value END
                    AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM e GROUP BY day_num ORDER BY day_num"""

  /** q_source_evolve — schema evolution on read (`mergeSchema`): two
    * parquet generations of one table — an old footprint (nationkey,
    * name) and a widened one (+ regionkey) — read as ONE dataset whose
    * schema is the union; old-generation rows surface NULL for the
    * added column. The 100-TB lake reality: a petabyte table is never
    * rewritten when a column lands, so the engine must reconcile
    * footers per file. Spark does it at footer-merge time — schema
    * resolution is metadata-only; column absence materializes as nulls
    * during the scan, no data pass. */
  private def sourceEvolve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("evolve", dir)
    val n = Tables.nation(spark, dir)
    n.where($"n_nationkey" < 10)
      .select($"n_nationkey", $"n_name")
      .write.mode("overwrite").parquet(s"$tmp/old")
    n.where($"n_nationkey" >= 10)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .write.mode("overwrite").parquet(s"$tmp/new")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$tmp/old", s"$tmp/new")
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .orderBy($"n_nationkey")
  }

  /** q_sink_compact — small-file compaction: the table-maintenance
    * pass every streaming/append ingest needs (a micro-batch sink
    * writing every trigger leaves thousands of KB-files; at 100 TB the
    * file-listing and per-file open cost alone kills scans — the
    * lakehouse OPTIMIZE/rewrite step). Staged here honestly: the
    * source projection is first written deliberately fragmented (64
    * files), then compacted by a range-repartition on the sort key +
    * in-partition sort — the compacted files carry DISJOINT key ranges
    * so parquet min/max footer pruning works on the result, and the
    * target file count (not size — the fixture is small) stands in for
    * the size-targeted binpacking a table format does. Content is
    * bit-identical through both layouts (the oracle); the 64→4 file
    * collapse and the disjoint per-file ranges are pinned in
    * CompactLayoutSpec. */
  private def sinkCompact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("compact", dir)
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice")
      .repartition(64)
      .write.mode("overwrite").parquet(s"$tmp/small")
    spark.read.parquet(s"$tmp/small")
      .repartitionByRange(4, $"l_orderkey")
      .sortWithinPartitions($"l_orderkey", $"l_linenumber")
      .write.mode("overwrite").parquet(s"$tmp/compacted")
    spark.read.parquet(s"$tmp/compacted")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice")
      // (orderkey, linenumber) is NOT unique in the fixture — the
      // ORDER BY must cover every column to be total (§2.12).
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice")
  }

  private val sinkCompactSql = """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""

  /** Z-value: interleave the low `bits` bits of two non-negative long
    * columns (a→even positions, b→odd). Pure bitwise Catalyst
    * expression tree — codegen'd, map-side, no UDF. 16 bits per
    * dimension covers the fixture key domains with headroom; real
    * tables widen `bits` to the key range. */
  private[streamline] def zvalue(a: Column, b: Column,
                                 bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)),
          2 * i + 1))
    }

  /** q_sink_zorder — multi-dimensional data clustering (Z-order): lay
    * the table out along an interleaved-bit space-filling curve over
    * (l_partkey, l_suppkey) so that EVERY file's footer min/max
    * bounding box is narrow in BOTH dimensions — a predicate on either
    * key (or both) then prunes most files at planning time. A 1-D sort
    * can only do this for its leading key: the trailing dimension
    * spans the full range in every file (the contrast is measured, not
    * assumed — ZOrderLayoutSpec lays the same rows out both ways and
    * asserts the bounding-box collapse). THE clustering decision for
    * multi-key point/range lookups at 100 TB (Delta/Iceberg OPTIMIZE
    * ZORDER); the curve computation itself is a map-side codegen'd
    * bitwise expression, and the layout write is one range exchange on
    * the z-value. The dimensions are RANGE-NORMALIZED onto a common
    * 8-bit grid before interleaving — raw-bit interleave is the known
    * z-order pitfall when domain widths differ (here suppkey uses 4
    * bits where partkey uses 11+, so partkey's high bits would
    * dominate the curve and the layout would degenerate to a 1-D
    * partkey sort; production ZORDER normalizes by rank for the same
    * reason). The min/max bounds feeding the normalization are 4
    * numbers from one tiny aggregate — metadata-scale driver state.
    * Content is unchanged by layout — the oracle is the projection
    * itself. */
  private def sinkZorder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("zorder", dir)
    val src = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
        $"l_quantity")
    val mm = src.agg(min($"l_partkey"), max($"l_partkey"),
      min($"l_suppkey"), max($"l_suppkey")).head()
    def bucket(c: Column, lo: Long, hi: Long): Column =
      (c - lit(lo)) * 256L / lit(hi - lo + 1L)
    src
      .withColumn("z", zvalue(
        bucket($"l_partkey", mm.getLong(0), mm.getLong(1)),
        bucket($"l_suppkey", mm.getLong(2), mm.getLong(3)), bits = 8))
      .repartitionByRange(8, $"z")
      .sortWithinPartitions($"z")
      .drop("z")
      .write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
        $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
        $"l_quantity")
  }

  private val sinkZorderSql = """
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
             l_quantity"""

  private val sourceEvolveSql = """
    SELECT n_nationkey, n_name,
      CASE WHEN n_nationkey >= 10 THEN n_regionkey END AS n_regionkey
    FROM nation ORDER BY n_nationkey"""

  // ---- §2.2 projection / filter / flatMap -------------------------------

  /** q_project — derived-column projection (Flink MapOperator / Table
    * select). Money math in exact DECIMAL per SURVEY §2.12. */
  private def project(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber",
        asDouble(dec("l_extendedprice") * (decLit(1) - dec("l_discount")))
          .as("revenue"),
        concat_ws("|", $"l_returnflag", $"l_linestatus").as("flag_status"),
        ($"l_quantity" * lit(2.0)).as("qty2"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  private val projectSql = """
    SELECT l_orderkey, l_linenumber,
      CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
           (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
           AS DOUBLE) AS revenue,
      l_returnflag || '|' || l_linestatus AS flag_status,
      l_quantity * 2.0 AS qty2
    FROM lineitem ORDER BY l_orderkey, l_linenumber"""

  /** q_filter — compound row predicate: AND/OR/NOT, IN, BETWEEN, LIKE,
    * IS NOT NULL (Flink FilterOperator). */
  private def filter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .where(($"o_orderstatus".isin("F", "P") &&
          $"o_totalprice".between(1000, 100000) &&
          $"o_orderpriority".like("%URGENT%")) ||
        (!($"o_orderstatus" === "F") && $"o_orderpriority".isNotNull &&
          $"o_totalprice" > 400000))
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  private val filterSql = """
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE (o_orderstatus IN ('F','P') AND o_totalprice BETWEEN 1000 AND 100000
           AND o_orderpriority LIKE '%URGENT%')
       OR (NOT (o_orderstatus = 'F') AND o_orderpriority IS NOT NULL
           AND o_totalprice > 400000)
    ORDER BY o_orderkey"""

  /** q_flatmap — 1→N record expansion (Flink FlatMapOperator; also the
    * UDTF/Generator witness per SURVEY §2.10). Duplicate (doc_id, word)
    * rows are full duplicates, so ordering among them is immaterial to
    * the hash compare. */
  private def flatmap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .orderBy($"doc_id", $"word")
  }

  private val flatmapSql = """
    SELECT * FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ) ORDER BY doc_id, word"""

  /** q_udtf_explode — table-function expansion with generated rows
    * (sequence → explode), the second Generator witness. */
  private def udtfExplode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.region(spark, dir)
      .select($"r_regionkey", $"r_name",
        explode(sequence(lit(0), $"r_regionkey")).as("i"))
      .orderBy($"r_regionkey", $"i")
  }

  private val udtfExplodeSql = """
    SELECT * FROM (
      SELECT r_regionkey, r_name,
             unnest(generate_series(0, r_regionkey)) AS i
      FROM region
    ) ORDER BY r_regionkey, i"""

  /** q_udtf_posexplode — ordinal table-function expansion
    * (`posexplode`): the generator that carries each element's
    * POSITION, the contract tokenization/chunking pipelines rely on
    * (a token's offset is part of its identity; plain explode loses
    * it). Oracle = DuckDB's zipped unnest over the list and its index
    * range. */
  private def udtfPosexplode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .where($"doc_id" < 100)
      .select($"doc_id", posexplode(split($"text", " ")))
      .select($"doc_id", $"pos", $"col".as("tok"))
      .orderBy($"doc_id", $"pos")
  }

  private val udtfPosexplodeSql = """
    SELECT doc_id,
      unnest(range(len(str_split(text, ' ')))) AS pos,
      unnest(str_split(text, ' ')) AS tok
    FROM documents WHERE doc_id < 100
    ORDER BY doc_id, pos"""

  /** The footer-stat aggregate plan, factored out so the plan spec can
    * assert `PushedAggregation` on exactly the query's shape. */
  private[streamline] def pushedAggPlan(spark: SparkSession,
                                        dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/lineitem.parquet")
      .agg(count(lit(1)).as("n_rows"),
        min($"l_orderkey").as("min_ok"), max($"l_orderkey").as("max_ok"),
        min($"l_quantity").as("min_qty"), max($"l_quantity").as("max_qty"))
  }

  /** q_scan_agg_pushdown — aggregate pushdown into the parquet scan
    * (`spark.sql.parquet.aggregatePushdown`, DataSource V2): COUNT /
    * MIN / MAX answered from ROW-GROUP FOOTER STATISTICS — zero data
    * pages read. At 100 TB this is the difference between a metadata
    * sweep (O(files), seconds) and a full-corpus scan for the
    * row-count / value-range probes every pipeline health check runs.
    * The V2-path confs are scoped `withConfs` and the tiny result is
    * forced inside them (one aggregate row — the same metadata-scale
    * materialization as the observation scalars); the footer-only plan
    * (`PushedAggregation: [COUNT(*), MIN(...), ...]`) is pinned by
    * ScanAggPushdownSpec. */
  private def scanAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val (rows, schema) = SkewJoin.withConfs(spark, Seq(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")) {
      val df = pushedAggPlan(spark, dir)
      (df.collect().toSeq, df.schema)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  private val scanAggPushdownSql = """
    SELECT count(*) AS n_rows,
      min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
      CAST(min(l_quantity) AS DOUBLE) AS min_qty,
      CAST(max(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem"""

  // ---- §2.6 sort / limit ------------------------------------------------

  /** q_sort_multi — multi-key asc/desc total sort with explicit NULL
    * ordering (Flink sortPartition / UnilateralSortMerger). At scale this
    * is a range-partitioned sample sort. */
  private def sortMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal",
        $"c_mktsegment")
      .orderBy($"c_mktsegment".asc_nulls_first, $"c_acctbal".desc_nulls_last,
        $"c_custkey".asc)
  }

  private val sortMultiSql = """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    ORDER BY c_mktsegment ASC NULLS FIRST, c_acctbal DESC NULLS LAST,
             c_custkey ASC"""

  /** q_limit — ordered FETCH/OFFSET (Flink first(n)). Spark plans this as
    * a TakeOrderedAndProject — no full sort materialization. */
  private def limit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc_nulls_last, $"o_orderkey".asc)
      .offset(20)
      .limit(100)
  }

  private val limitSql = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC
    LIMIT 100 OFFSET 20"""

  // ---- §2.7 set operations ---------------------------------------------

  private def unionAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
      .select($"c_custkey".as("id"), $"c_name".as("name"),
        lit("customer").as("src"))
    val s = Tables.supplier(spark, dir)
      .select($"s_suppkey".as("id"), $"s_name".as("name"),
        lit("supplier").as("src"))
    c.unionByName(s).orderBy($"src", $"id")
  }

  private val unionAllSql = """
    SELECT * FROM (
      SELECT c_custkey AS id, c_name AS name, 'customer' AS src FROM customer
      UNION ALL
      SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier
    ) ORDER BY src, id"""

  private def unionDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
      .union(Tables.supplier(spark, dir).select($"s_nationkey".as("nationkey")))
      .distinct()
      .orderBy($"nationkey")
  }

  private val unionDistinctSql = """
    SELECT * FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey AS nationkey FROM supplier
    ) ORDER BY nationkey"""

  private def intersect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .where($"c_acctbal" > 9000).select($"c_nationkey".as("nationkey"))
      .intersect(Tables.supplier(spark, dir)
        .where($"s_acctbal" > 0).select($"s_nationkey".as("nationkey")))
      .orderBy($"nationkey")
  }

  private val intersectSql = """
    SELECT * FROM (
      SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
      INTERSECT
      SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 0
    ) ORDER BY nationkey"""

  private def except(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
      .except(Tables.supplier(spark, dir)
        .where($"s_acctbal" > 5000).select($"s_nationkey".as("nationkey")))
      .orderBy($"nationkey")
  }

  private val exceptSql = """
    SELECT * FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000
    ) ORDER BY nationkey"""

  /** q_except_all / q_intersect_all — MULTISET set operations (the
    * Table API's first-class `minusAll` / `intersectAll`): bag
    * semantics — a row occurring m times on the left and n on the
    * right survives max(m−n, 0) times (except) / min(m, n) times
    * (intersect). Catalyst plans both as ONE keyed aggregation
    * counting per-side multiplicities plus a generate to re-expand —
    * a single shuffle on the row value, never a join, which is the
    * scale-correct plan (the distinct variants above dedup first;
    * these must NOT). */
  private def exceptAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
      .exceptAll(Tables.supplier(spark, dir)
        .select($"s_nationkey".as("nationkey")))
      .groupBy($"nationkey").agg(count(lit(1)).as("n"))
      .orderBy($"nationkey")
  }

  private val exceptAllSql = """
    SELECT nationkey, count(*) AS n FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT ALL
      SELECT s_nationkey AS nationkey FROM supplier
    ) GROUP BY nationkey ORDER BY nationkey"""

  private def intersectAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
      .intersectAll(Tables.supplier(spark, dir)
        .select($"s_nationkey".as("nationkey")))
      .groupBy($"nationkey").agg(count(lit(1)).as("n"))
      .orderBy($"nationkey")
  }

  private val intersectAllSql = """
    SELECT nationkey, count(*) AS n FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT ALL
      SELECT s_nationkey AS nationkey FROM supplier
    ) GROUP BY nationkey ORDER BY nationkey"""

  /** q_source_corrupt — error-tolerant ingestion (the reference
    * lineage's DeserializationSchema error contract: a bad record must
    * not kill the job; upstream flink-json's `ignore-parse-errors` /
    * `DeserializationSchema.deserialize` returning null): the supplier
    * table rides through a JSON file with deliberately malformed lines
    * injected, read back in PERMISSIVE mode with an explicit corrupt
    * -record column. Bad lines land whole in the quarantine column
    * (dead-letter pattern — at 100 TB they'd be written to a
    * quarantine sink for triage, never dropped silently); the query
    * emits the valid rows, which must be bit-identical to the source
    * table (oracle). The corrupt-row count and quarantine content are
    * pinned by CorruptSourceSpec. */
  def corruptSourceRaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val loc = streamline.util.Scratch.dir("corrupt", dir)
    Tables.supplier(spark, dir).write.mode("overwrite").json(loc)
    // inject after the overwrite (which clears the dir) so re-runs are
    // idempotent; three distinct malformation shapes
    val bad = new java.io.PrintWriter(
      new java.io.File(loc, "part-corrupt.json"), "UTF-8")
    try {
      bad.println("""{"s_suppkey": 900001, "s_name": "TRUNCATED""")
      bad.println("""not json at all""")
      bad.println("""{"s_suppkey": }""")
    } finally bad.close()
    spark.read
      .schema(org.apache.spark.sql.types.StructType(
        Tables.supplierSchema.fields :+
          org.apache.spark.sql.types.StructField("_quarantine",
            org.apache.spark.sql.types.StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_quarantine")
      .json(loc)
  }

  private def sourceCorrupt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    corruptSourceRaw(spark, dir)
      // the s_suppkey conjunct is load-bearing for the plan, not the
      // semantics (corrupt rows null every data field anyway): under
      // aggressive column pruning (e.g. a downstream count()) a filter
      // referencing ONLY the corrupt column is disallowed over raw
      // JSON (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — anchoring a data
      // column keeps the scan legal in every pruned shape
      .where($"_quarantine".isNull && $"s_suppkey".isNotNull)
      .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
      .orderBy($"s_suppkey")
  }

  /** q_source_binary — whole-file binary source (`format("binaryFile")`),
    * the ingest path for multimodal shards: each file arrives as one
    * row of (path, length, content) with NO parsing, the schema the
    * mm_* decode operators consume. Twenty documents are staged as
    * individual UTF-8 files (driver-side loop — 20 files, metadata
    * scale, same class as the dist-cache staging); the read-back must
    * reproduce byte length and md5 of every payload against the
    * parquet originals. Scale: binaryFile is NOT splittable (one file
    * = one task = one row in memory) — the right unit is a shard-sized
    * payload file, and the path/length columns prune before content
    * is ever materialized. */
  private def sourceBinary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = streamline.util.Scratch.dir("bin_docs", dir)
    val d = new java.io.File(tmp)
    org.apache.commons.io.FileUtils.deleteQuietly(d); d.mkdirs()
    Tables.documents(spark, dir).where($"doc_id" < 20)
      .select($"doc_id", $"text").collect().foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp, s"${r.getLong(0)}.bin"),
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    spark.read.format("binaryFile").load(tmp)
      .select(
        regexp_extract($"path", "([0-9]+)\\.bin$", 1).cast("long")
          .as("doc_id"),
        $"length", md5($"content").as("h"))
      .orderBy($"doc_id")
  }

  private val sourceBinarySql = """
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS length,
      md5(text) AS h
    FROM documents WHERE doc_id < 20 ORDER BY doc_id"""

  val all: Seq[Q] = Seq(
    Q("q_source_binary", sourceBinary _, sourceBinarySql),
    Q("q_source_corrupt", sourceCorrupt _, sourceJsonMultilineSql),
    Q("q_scan_parquet", scanParquet _, scanParquetSql),
    Q("q_scan_prune", scanPrune _, scanPruneSql),
    Q("q_scan_nested_prune", scanNestedPrune _, scanNestedPruneSql),
    Q("q_source_json", sourceJson _, sourceJsonSql),
    Q("q_source_csv", sourceCsv _, sourceCsvSql),
    Q("q_source_csv_multiline", sourceCsvMultiline _, sourceCsvMultilineSql),
    Q("q_source_json_multiline", sourceJsonMultiline _,
      sourceJsonMultilineSql),
    Q("q_source_jsonl_gz", sourceJsonlGz _, sourceJsonlGzSql),
    Q("q_source_text", sourceText _, sourceTextSql),
    Q("q_source_orc", sourceOrc _, sourceOrcSql),
    Q("q_source_avro", sourceAvro _, sourceAvroSql),
    Q("q_source_xml", sourceXml _, sourceXmlSql),
    Q("q_cache_reuse", cacheReuse _, cacheReuseSql),
    Q("q_scan_metadata", scanMetadata _, scanMetadataSql),
    Q("q_sink_roundtrip", sinkRoundtrip _, sinkRoundtripSql),
    Q("q_sink_partitioned", sinkPartitioned _, sinkPartitionedSql),
    Q("q_sink_dynamic_overwrite", sinkDynamicOverwrite _,
      sinkDynamicOverwriteSql),
    Q("q_sink_compact", sinkCompact _, sinkCompactSql),
    Q("q_sink_zorder", sinkZorder _, sinkZorderSql),
    Q("q_source_evolve", sourceEvolve _, sourceEvolveSql),
    Q("q_project", project _, projectSql),
    Q("q_filter", filter _, filterSql),
    Q("q_flatmap", flatmap _, flatmapSql),
    Q("q_udtf_explode", udtfExplode _, udtfExplodeSql),
    Q("q_udtf_posexplode", udtfPosexplode _, udtfPosexplodeSql),
    Q("q_scan_agg_pushdown", scanAggPushdown _, scanAggPushdownSql),
    Q("q_sort_multi", sortMulti _, sortMultiSql),
    Q("q_limit", limit _, limitSql),
    Q("q_union_all", unionAll _, unionAllSql),
    Q("q_union_distinct", unionDistinct _, unionDistinctSql),
    Q("q_intersect", intersect _, intersectSql),
    Q("q_except", except _, exceptSql),
    Q("q_except_all", exceptAll _, exceptAllSql),
    Q("q_intersect_all", intersectAll _, intersectAllSql))
}
