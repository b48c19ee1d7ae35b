package graft
import java.nio.file.{Files, Paths}

/** Driver timing contract: times each selected query (all when no name
  * is given) once, in name order, on the driver session at
  * `SPARK_GRAFT_SF_DIR`, and prints one JSON line on stdout. */
object Bench {
  /** The driver reads a ~2,000-char tail of stdout, and sbt appends its
    * own lines after ours: a longer line is clipped mid-JSON. */
  private val maxLine = 1500

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // A misspelled query name must fail loudly, not silently time an
    // empty selection and emit a valid-looking {"value":0} line.
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty)
      sys.error(s"unknown queries: ${unknown.mkString(", ")}; " +
        s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val selected = SparkEntry.queries.toSeq
      .filter(q => args.isEmpty || args.contains(q._1)).sortBy(_._1)
    val results = SparkEntry.withDriverSession("bench") { spark =>
      // Untimed warm-up: JVM/codegen/parquet-footer startup costs belong
      // to the session, not to whichever query happens to run first.
      try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val mark = try { fn(spark, sfDir).count(); "" } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e"); "  (FAILED)"
        }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $name%-28s $dt%8.2f s$mark")
        name -> dt
      }
    }
    val (stdoutLine, fullLine) = lines(results, sfDir)
    try Files.writeString(Paths.get("bench.json"), fullLine)
    catch { case e: Throwable => System.err.println(s"[bench] bench.json write failed: $e") }
    System.err.flush()
    println(stdoutLine)
    Console.out.flush()
  }

  /** The stdout line and the untrimmed line for bench.json. `value` and
    * `n_queries` cover every query in both; the stdout line's `queries`
    * drops the fastest entries until it fits in [[maxLine]]. */
  private[graft] def lines(results: Seq[(String, Double)],
      sfDir: String): (String, String) = {
    val total = results.map(_._2).sum
    def line(qs: Seq[(String, Double)]): String =
      qs.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString(f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
          s""""n_queries":${results.size},"queries":{""", ",",
          s"""},"sf":"$sfDir"}""")
    val bySlowest = results.sortBy(-_._2)
    val trimmed = (bySlowest.size to 0 by -1).iterator
      .map(k => line(bySlowest.take(k))).find(_.length <= maxLine)
      .getOrElse(line(Nil))
    (trimmed, line(results))
  }
}
