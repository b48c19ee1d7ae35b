package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Access
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Drives `graft.SparkEntry.queries` for one benchmark run.
  *
  * Usage: `perfbench.Harness <plan file> <output file>`. The plan is
  * `key=value` lines written by `perfbench/run.py`; `pass=` lines give the
  * query order of each timed pass. The output is one JSON object per line:
  * set-up times, one record per query execution (phase, seconds,
  * fingerprint), streaming micro-batch progress, heap, and in traced runs
  * the spans and per-query counters the listeners collected.
  *
  * One client, closed loop: a query starts only after the previous
  * result has been fingerprinted.
  */
object Harness {

  final case class Plan(kv: Map[String, String], passes: Seq[Seq[String]]) {
    def apply(k: String): String = kv(k)
    def list(k: String): Seq[String] = kv.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
  }

  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.contains("="))
    val kv = lines.map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
    Plan(kv.filterNot(_._1 == "pass").toMap,
      kv.filter(_._1 == "pass").map(_._2.split(",").toSeq.filter(_.nonEmpty)))
  }

  // ---- JSON output -------------------------------------------------------

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jobj(fields: (String, Any)*): String = fields.map {
    case (k, v) => jstr(k) + ":" + (v match {
      case null | None => "null"
      case Some(x) => jval(x)
      case x => jval(x)
    })
  }.mkString("{", ",", "}")

  private def jval(v: Any): String = v match {
    case s: String => jstr(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }

  // ---- fingerprint -------------------------------------------------------

  /** Per-row hash of every column, columns taken in name order (ties by
    * position) as the oracle check compares them. Each column contributes
    * `xxhash64(isnull(c), c)`, so a null never hashes like a value and
    * swapping values between columns changes the row hash. Arrays, structs
    * and maps go through `to_json` with null fields kept: Spark cannot
    * hash maps, and its hash skips null array elements and struct fields.
    * Spark's xxhash64 hashes NaN and -0.0 of a top-level column by their
    * canonical bits. */
  def rowHash(df: DataFrame): (DataFrame, Column) = {
    val order = df.columns.zipWithIndex.sortBy(identity).map(_._2)
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      .select(order.toSeq.map(i => col(s"c$i")): _*)
    val keepNulls = Map("ignoreNullFields" -> "false")
    val parts = d.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      xxhash64(isnull(c), f.dataType match {
        case _: ArrayType | _: StructType | _: MapType => to_json(c, keepNulls)
        case _ => c
      })
    }
    (d, if (parts.isEmpty) lit(0L) else xxhash64(parts: _*))
  }

  /** The oracle's result with the column names and types of `schema`, or
    * None when the two results do not have the same column names. */
  def aligned(oracle: DataFrame, schema: StructType): Option[DataFrame] =
    if (oracle.columns.sorted.toSeq != schema.fieldNames.sorted.toSeq) None
    else Some(oracle.select(schema.fields.toSeq.map { f =>
      col("`" + f.name.replace("`", "``") + "`").cast(f.dataType).as(f.name)
    }: _*))

  /** Materializes every column of `df`: row count plus the
    * order-insensitive sum of the row hashes, as `count:sum`. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val (d, h) = rowHash(df)
    val r = d.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .collect()(0)
    val n = r.getLong(0)
    (n, s"$n:${Option(r.getDecimal(1)).fold("0")(_.toPlainString)}")
  }

  // ---- listeners ---------------------------------------------------------

  /** Mutable state every listener reads: which query is running and in
    * which phase. The harness changes it only between queries, after the
    * listener queues have drained. */
  @volatile var phase = "setup"
  @volatile var qid = ""

  final class Sink(out: PrintWriter) {
    def apply(line: String): Unit = synchronized { out.println(line) }
  }

  /** Micro-batch progress, recorded in every run: Spark posts these
    * events whether or not anything listens. */
  final class StreamTap(sink: Sink) extends StreamingQueryListener {
    private val owner = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (String, String)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      owner.put(e.runId, (phase, qid)) // called on the thread that started the query
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val (ph, q) = Option(owner.get(p.runId)).getOrElse((phase, qid))
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val ops = p.stateOperators.toSeq
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      sink(jobj("k" -> "batch", "phase" -> ph, "qid" -> q, "run" -> p.runId.toString,
        "start_ms" -> start, "trigger_ms" -> d("triggerExecution"),
        "rows" -> p.numInputRows, "plan_ms" -> d("queryPlanning"),
        "exec_ms" -> d("addBatch"), "wal_ms" -> (d("walCommit") + d("commitOffsets")),
        "source_ms" -> (d("latestOffset") + d("getBatch")),
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Traced runs only: spans for SQL executions, jobs and stages, and
    * per-query counters, keyed by the query id that travels as the
    * `perfbench.qid` local property. */
  final class Tracer(sink: Sink) extends SparkListener with QueryExecutionListener {
    private val ctr = mutable.Map.empty[(String, String), Double]
    private val jobQid = mutable.Map.empty[Int, String]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stageSubmit = mutable.Map.empty[Int, Long]
    private val stageReads = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    private val jobStart = mutable.Map.empty[Int, (Long, String)]
    private val sqlStart = mutable.Map.empty[Long, (Long, String, String)]

    private def add(q: String, name: String, v: Double): Unit = synchronized {
      ctr((q, name)) = ctr.getOrElse((q, name), 0.0) + v
    }
    private def qidOf(stage: Int): String = synchronized {
      stageJob.get(stage).flatMap(jobQid.get).getOrElse(qid)
    }
    private def span(kind: String, q: String, id: String, start: Long, end: Long,
                     link: String = ""): Unit =
      sink(jobj("k" -> "span", "kind" -> kind, "qid" -> q, "id" -> id,
        "start_ms" -> start, "end_ms" -> end, "link" -> link))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val q = props.flatMap(p => Option(p.getProperty("perfbench.qid"))).getOrElse(qid)
      val sql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
      synchronized {
        jobQid(e.jobId) = q
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
        jobStart(e.jobId) = (e.time, sql)
      }
      add(q, "sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (q, st) = synchronized((jobQid.getOrElse(e.jobId, qid), jobStart.remove(e.jobId)))
      st.foreach { case (t0, sql) => span("job", q, s"job${e.jobId}", t0, e.time, sql) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val q = qidOf(si.stageId)
      add(q, "sched.stages", 1)
      val reads = synchronized(stageReads.remove(si.stageId)).getOrElse(mutable.ArrayBuffer.empty[Long])
      if (reads.size >= 2) {
        val sorted = reads.sorted
        val med = sorted(sorted.size / 2)
        if (med > 0) synchronized {
          val k = (q, "shuffle.skew")
          ctr(k) = math.max(ctr.getOrElse(k, 0.0), sorted.last.toDouble / med)
        }
      }
      val job = synchronized(stageJob.get(si.stageId)).fold("")(j => s"job$j")
      for (s <- si.submissionTime; c <- si.completionTime)
        span("stage", q, s"stage${si.stageId}.${si.attemptNumber()}", s, c, job)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val q = qidOf(e.stageId)
      val m = e.taskMetrics
      add(q, "sched.tasks", 1)
      val submitted = synchronized(stageSubmit.get(e.stageId))
      submitted.foreach(s => add(q, "sched.wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
      if (m != null) {
        add(q, "exec.task_ms", m.executorRunTime)
        add(q, "exec.cpu_ms", m.executorCpuTime / 1e6)
        add(q, "exec.gc_ms", m.jvmGCTime)
        add(q, "exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(q, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        val read = m.shuffleReadMetrics.totalBytesRead
        add(q, "shuffle.read_bytes", read)
        add(q, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add(q, "tables.read_bytes", m.inputMetrics.bytesRead)
        add(q, "tables.read_rows", m.inputMetrics.recordsRead)
        synchronized(stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += read)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        add(qid, "plans.executions", 1)
        synchronized {
          sqlStart(s.executionId) = (s.time, qid, s.rootExecutionId.fold("")(_.toString))
        }
      case s: SparkListenerSQLExecutionEnd =>
        synchronized(sqlStart.remove(s.executionId)).foreach { case (t0, q, root) =>
          span("sql", q, s.executionId.toString, t0, s.time,
            if (root == s.executionId.toString) "" else root)
        }
      case _ =>
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val q = qid
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).fold(0.0)(s => (s.endTimeMs - s.startTimeMs).toDouble)
      add(q, "plans.analysis_ms", ms("analysis"))
      add(q, "plans.optimize_ms", ms("optimization"))
      add(q, "plans.physical_ms", ms("planning"))
      val nodes = PlanWalk.collectWithSubqueries(qe.executedPlan) { case p => p }
      add(q, "plans.codegen_fallback_exprs",
        nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum)
      add(q, "exec.join_rows", nodes.collect {
        case j: BaseJoinExec => j.metrics.get("numOutputRows").fold(0L)(_.value)
      }.sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def flush(): Unit = synchronized {
      ctr.foreach { case ((q, n), v) => sink(jobj("k" -> "ctr", "qid" -> q, "name" -> n, "v" -> v)) }
      ctr.clear()
    }
  }

  // ---- run ---------------------------------------------------------------

  def session(plan: Plan): SparkSession = {
    val scratch = plan("scratch")
    val spark = SparkSession.builder()
      .master(s"local[${plan("cores")}]")
      .config("spark.sql.shuffle.partitions", plan("cores"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoint")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** CPU time of every thread of this JVM (tasks, scheduler, JIT, GC). On a
    * virtual machine it leaves out the time the host ran something else. */
  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Module of a query: the object whose body defines its function. */
  def module(fn: AnyRef): String = fn.getClass.getName.takeWhile(_ != '$')

  def main(args: Array[String]): Unit =
    if (args(0) == "--list") list(args(1)) else bench(args(0), args(1))

  /** Writes `{name: {"module": ..., "sql": oracle SQL or null}}` for
    * every declared query. */
  def list(outPath: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(outPath), graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (n, fn) => jstr(n) + ":" + jobj("module" -> module(fn), "sql" -> oracle.get(n))
    }.mkString("{", ",\n", "}"))
  }

  def bench(planPath: String, outPath: String): Unit = {
    val plan = readPlan(planPath)
    val out = new PrintWriter(outPath, "UTF-8")
    val sink = new Sink(out)
    val data = plan("data")
    val queries = graft.SparkEntry.queries
    val unknown = (plan.passes.flatten ++ plan.list("warmup")).filterNot(queries.contains).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val tap = new StreamTap(sink)
    // Result schema and fingerprint of each query's first timed execution.
    val timed = mutable.Map.empty[String, (StructType, String)]

    def run(spark: SparkSession, name: String, pass: Int): Unit = {
      qid = s"$phase.$pass.$name"
      spark.sparkContext.setLocalProperty("perfbench.qid", qid)
      val w0 = System.currentTimeMillis()
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      var tb = t0
      val res = try {
        val df = queries(name)(spark, data)
        tb = System.nanoTime()
        val fp = fingerprint(df)
        if (phase == "timed" && !timed.contains(name)) timed(name) = (df.schema, fp._2)
        Right(fp)
      } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      val t1 = System.nanoTime()
      val cpu = (cpuNanos() - c0) / 1e9
      if (tb == t0) tb = t1
      val w1 = w0 + (t1 - t0) / 1000000
      sink(jobj("k" -> "q", "phase" -> phase, "pass" -> pass, "name" -> name, "qid" -> qid,
        "start_ms" -> w0, "build_ms" -> (w0 + (tb - t0) / 1000000), "end_ms" -> w1,
        "build_s" -> (tb - t0) / 1e9, "result_s" -> (t1 - tb) / 1e9, "cpu_s" -> cpu,
        "rows" -> res.toOption.map(_._1), "fp" -> res.toOption.map(_._2),
        "err" -> res.left.toOption))
      res.left.foreach(m => System.err.println(s"[perfbench] $name failed: $m"))
      spark.sparkContext.setLocalProperty("perfbench.qid", null)
    }

    // Set-up: session + untimed warm-up, repeated; the first cycle counts
    // from JVM launch.
    val launch = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = plan("setups").toInt
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      val t0 = if (i == 0) launch else System.currentTimeMillis()
      val c0 = if (i == 0) 0L else cpuNanos()
      phase = "warmup"
      spark = session(plan)
      spark.streams.addListener(tap)
      plan.list("warmup").foreach(run(spark, _, i))
      sink(jobj("k" -> "setup", "cycle" -> i, "s" -> (System.currentTimeMillis() - t0) / 1e3,
        "cpu_s" -> (cpuNanos() - c0) / 1e9))
      if (i < setups - 1) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    // The first `cold` passes over the sample are kept out of the timed
    // metrics: JIT compilation, code generation and first-use caches warm
    // up here. Then the timed passes.
    def pass(p: Int, order: Seq[String]): Unit = {
      val t0 = System.nanoTime()
      order.foreach(run(spark, _, p))
      sink(jobj("k" -> "pass", "phase" -> phase, "pass" -> p, "s" -> (System.nanoTime() - t0) / 1e9))
    }
    val cold = plan("cold").toInt
    phase = "cold"
    for ((order, p) <- plan.passes.take(cold).zipWithIndex) pass(p, order)
    val timedPasses = plan.passes.drop(cold)
    val sc = spark.sparkContext
    if (plan("trace") != "1") {
      phase = "timed"
      val t0 = System.nanoTime()
      for ((order, p) <- timedPasses.zipWithIndex) pass(p, order)
      Access.drainListeners(sc)
      sink(jobj("k" -> "elapsed", "phase" -> phase, "s" -> (System.nanoTime() - t0) / 1e9,
        "passes" -> timedPasses.size))
      // Retained heap: three full collections a moment apart (Spark's
      // context cleaner frees shuffle and broadcast state after a GC).
      for (_ <- 1 to 3) {
        System.gc()
        Thread.sleep(200)
        val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        sink(jobj("k" -> "heap", "mb" -> heap / 1048576.0))
      }
    } else {
      // Traced run: each query of the first timed pass runs twice, once with
      // the tracer registered and once without, alternating which goes
      // first, so both sides are equally warm and their difference is the
      // tracing overhead. The listener queues drain before the tracer is
      // registered and before it is removed, so it records exactly the
      // events of the traced execution.
      val tracer = new Tracer(sink)
      for ((name, i) <- timedPasses.head.zipWithIndex) {
        def traced(): Unit = {
          Access.drainListeners(sc)
          sc.addSparkListener(tracer)
          spark.listenerManager.register(tracer)
          phase = "traced"
          run(spark, name, 0)
          Access.drainListeners(sc)
          spark.listenerManager.unregister(tracer)
          sc.removeSparkListener(tracer)
        }
        def plain(): Unit = { phase = "timed"; run(spark, name, 0) }
        if (i % 2 == 0) { traced(); plain() } else { plain(); traced() }
      }
      Access.drainListeners(sc)
      tracer.flush()
    }

    // JVM work during the run, for reading the figures: collector time
    // and JIT compiler time.
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    sink(jobj("k" -> "jvm", "gc_s" -> gcMs / 1e3,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3))

    // Verification. The oracle's result (written by run.py from DuckDB)
    // is cast to the timed result's schema and fingerprinted; when it
    // matches, the query is checked. Otherwise, and for queries without
    // an oracle, the query runs once more and its result is written out
    // for the cell-by-cell oracle comparison and fingerprinted from the
    // written copy.
    phase = "verify"
    for (name <- timedPasses.head) {
      qid = s"verify.$name"
      val file = new File(s"${plan("oracle")}/$name.parquet")
      val oracleFp = timed.get(name).filter(_ => file.exists).flatMap { case (schema, _) =>
        try aligned(spark.read.parquet(file.getPath), schema).map(fingerprint(_)._2)
        catch { case _: Throwable => None }
      }
      sink(jobj("k" -> "oracle", "name" -> name, "fp" -> oracleFp))
      if (oracleFp.isEmpty || !timed.get(name).map(_._2).contains(oracleFp.get)) {
        val dir = s"${plan("dump")}/$name"
        val res = try {
          queries(name)(spark, data).coalesce(1).write.mode("overwrite").parquet(dir)
          Right(fingerprint(spark.read.parquet(dir)))
        } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
        sink(jobj("k" -> "q", "phase" -> phase, "pass" -> 0, "name" -> name, "qid" -> qid,
          "rows" -> res.toOption.map(_._1), "fp" -> res.toOption.map(_._2),
          "err" -> res.left.toOption))
      }
    }
    Access.drainListeners(spark.sparkContext)
    spark.stop()
    out.close()
  }
}
