package graft

import org.apache.spark.sql.SparkSession

/** Scratch profiling main (not part of the declared surface): times a
  * query list over several warm rounds with `graft.iter.aqe` toggled,
  * to separate real effects from run-to-run variance. */
object Prof {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runToken = java.util.UUID.randomUUID().toString.take(8)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // same tmpfs scratch posture as Bench: profiling numbers must not
      // ride the host's intermittent block-device write throttle
      .config("spark.local.dir",
        streamline.util.Knobs.fastTmp + s"/local_prof_$runToken")
      .config("spark.sql.streaming.checkpointLocation",
        streamline.util.Knobs.fastTmp + s"/ck_prof_$runToken")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Per-micro-batch cost split for EVERY streaming query of the run:
    // a session-wide progress listener under an opt-in flag.
    if (sys.env.get("GRAFT_STREAM_VERBOSE").contains("true"))
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            System.err.println(s"[streamprof] ${p.name} batch=${p.batchId} " +
              s"rows=${p.numInputRows} durationMs=${p.durationMs}")
          }
        })
    // Ad-hoc session confs for A/B runs: GRAFT_PROF_CONF="k=v,k=v".
    sys.env.get("GRAFT_PROF_CONF").foreach(_.split(",").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    val qs = if (args.nonEmpty) args.toSeq
      else Seq("q_iter_cc", "q_iter_delta", "q_iter_pagerank",
        "q_llm_dedup_cluster")
    for (round <- 1 to 6) {
      val aqe = (round % 2 == 0).toString
      spark.conf.set("graft.iter.aqe", aqe)
      val times = qs.map { q =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).count()
        f"$q=${(System.nanoTime() - t0) / 1e9}%.2f"
      }
      println(s"[prof] round=$round iterAqe=$aqe ${times.mkString(" ")}")
    }
    spark.stop()
  }
}
