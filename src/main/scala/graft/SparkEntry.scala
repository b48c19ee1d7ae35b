package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import streamline.Q
import streamline.batch._
import streamline.llm.{Dedup, Pipeline, Similarity, Spans, Text, Vocab}
import streamline.stream.{CepStream, Connect, OffsetReplay, Stateful, Streams}

/** Driver contract — see /root/repo/SURVEY.md §0.1 and §7.
  *
  * Every key declared in [[queries]] is one operator capability from
  * SURVEY.md §2; [[oracleSql]] carries its DuckDB-equivalent ANSI SQL
  * (omitted only for approx / semantics-only ops per the contract).
  * Column names and ordering rules follow SURVEY.md §2.12.
  */
object SparkEntry {

  private def modules: Seq[Q] =
    Aggregates.all ++ Relational.all ++ ProtoWire.all ++
      ProtoDescriptor.all ++ Joins.all ++
      SkewJoin.all ++
      Windows.all ++
      Functions.all ++ UdfSurface.all ++ SqlApi.all ++ SqlTpch.all ++
      Iterate.all ++
      Cep.all ++ Partitioning.all ++ Enrich.all ++ Text.all ++
      Dedup.all ++ Pipeline.all ++ Similarity.all ++ Spans.all ++
      Vocab.all ++
      Streams.all ++
      Stateful.all ++ Connect.all ++ CepStream.all ++ OffsetReplay.all

  /** Flagship query (TPC-H Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_group")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    modules.flatMap(q => q.sql.map(s => q.name -> s)).toMap

  /** Runs `body` on the session Bench and Verify drive:
    * `local[SPARK_GRAFT_CPUS]` with as many shuffle partitions, UTC, no
    * UI, and a JVM-unique `spark.local.dir` and streaming checkpoint
    * root under Knobs.fastTmp (tmpfs when available: the harness host
    * intermittently throttles block-device writes; a reused checkpoint
    * root would replay committed offsets). Both roots are deleted
    * after the session stops. */
  private[graft] def withDriverSession[T](tag: String)(
      body: SparkSession => T): T = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val token = java.util.UUID.randomUUID().toString.take(8)
    def root(kind: String) = new java.io.File(
      streamline.util.Knobs.fastTmp, s"${kind}_${tag}_$token")
    val (local, ckpt) = (root("local"), root("ck"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.streaming.checkpointLocation", ckpt.getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark)
    finally {
      spark.stop()
      Seq(local, ckpt).foreach(streamline.stream.Streams.deleteRec)
    }
  }
}
