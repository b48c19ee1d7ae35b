package streamline

import graft.{SparkEntry, SparkSuite}

/** Streaming witnesses must not leave checkpoints or catalog entries
  * behind. A query started without a `checkpointLocation` gets a fresh
  * UUID directory under the session's
  * `spark.sql.streaming.checkpointLocation` (set by Bench, Verify and
  * the benchmark harness), and Spark never deletes it — one leaked
  * directory per execution of every such sink. A memory sink registers
  * a temp view that pins its rows until it is dropped. */
class CheckpointLeakSpec extends SparkSuite {

  test("sink drains leave nothing under the session checkpoint root") {
    val key = "spark.sql.streaming.checkpointLocation"
    val root = java.nio.file.Files.createTempDirectory("graft_ckleak").toFile
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, root.getPath)
      Seq("q_sink_foreachbatch", "q_sink_foreach", "q_sink_upsert",
          "q_sink_cdc", "q_stream_retract_hist", "q_stream_late",
          "q_stream_late_side", "q_stream_proctime").foreach { q =>
        SparkEntry.queries(q)(spark, sfDir).collect()
        val left = Option(root.list()).toSeq.flatten
        assert(left.isEmpty, s"$q left checkpoints: ${left.mkString(", ")}")
      }
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      streamline.stream.Streams.deleteRec(root)
    }
  }

  test("memory-sink witnesses leave the session's temp views unchanged") {
    def tempViews() = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = tempViews()
    Seq("q_stream_tumble", "q_stream_late", "q_stream_proctime").foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).collect()
      val added = tempViews() -- before
      assert(added.isEmpty, s"$q left temp views: ${added.mkString(", ")}")
    }
  }
}
