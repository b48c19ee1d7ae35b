package streamline

import graft.{SparkEntry, SparkSuite}
import streamline.util.{Knobs, Scratch}

/** Cluster-size knobs flow from spark conf (SURVEY.md §2.12): defaults
  * hold without conf, conf overrides take effect, and the one knob
  * with a result-visible surface (dedup blocks) leaves the result
  * unchanged — B partitions the work, never the answer. */
class KnobsSpec extends SparkSuite {

  test("knob defaults") {
    spark.conf.unset("graft.dedup.blocks")
    spark.conf.unset("graft.bucket.count")
    spark.conf.unset("graft.stream.statePartitions")
    spark.conf.unset("graft.iter.partitions")
    spark.conf.unset("graft.iter.aqe")
    assert(Knobs.dedupBlocks(spark) == 8)
    assert(Knobs.bucketCount(spark) == 8)
    assert(Knobs.statePartitions(spark) == 1)
    // iteration loops default to min(8, session shuffle partitions)
    // and AQE off (fixed plan shape, per-superstep replan is latency)
    assert(Knobs.iterPartitions(spark) ==
      math.min(8, spark.conf.get("spark.sql.shuffle.partitions").toInt))
    assert(!Knobs.iterAqe(spark))
  }

  test("conf overrides reach the accessors") {
    try {
      spark.conf.set("graft.dedup.blocks", "3")
      spark.conf.set("graft.bucket.count", "16")
      spark.conf.set("graft.stream.statePartitions", "2")
      spark.conf.set("graft.iter.partitions", "64")
      spark.conf.set("graft.iter.aqe", "true")
      assert(Knobs.dedupBlocks(spark) == 3)
      assert(Knobs.bucketCount(spark) == 16)
      assert(Knobs.statePartitions(spark) == 2)
      assert(Knobs.iterPartitions(spark) == 64)
      assert(Knobs.iterAqe(spark))
    } finally {
      spark.conf.unset("graft.dedup.blocks")
      spark.conf.unset("graft.bucket.count")
      spark.conf.unset("graft.stream.statePartitions")
      spark.conf.unset("graft.iter.partitions")
      spark.conf.unset("graft.iter.aqe")
    }
  }

  test("dedup_embed result is independent of the block count") {
    val q = SparkEntry.queries("q_llm_dedup_embed")
    val base = q(spark, sfDir).collect().map(_.toSeq).toSet
    try {
      spark.conf.set("graft.dedup.blocks", "3")
      assert(q(spark, sfDir).collect().map(_.toSeq).toSet == base)
    } finally spark.conf.unset("graft.dedup.blocks")
    assert(base.nonEmpty || q(spark, sfDir).count() == 0)
  }

  test("streaming result is independent of the state-partition count") {
    // The state-partition count sizes the state store to the cluster;
    // it must never reach the answer. Witnessed on the state-heaviest
    // drains: checkpoint recovery (two runs, restore, foreachBatch), the
    // cumulating window, transformWithState on RocksDB, and the state
    // reader over a RocksDB checkpoint.
    Seq("q_stream_recovery", "q_stream_cumulate", "q_stream_tws",
        "q_stream_rocksdb_reader").foreach { name =>
      val q = SparkEntry.queries(name)
      val byParts = try Seq(1, 2, 4).map { n =>
        spark.conf.set("graft.stream.statePartitions", n.toString)
        n -> q(spark, sfDir).collect().map(_.toSeq).toSet
      } finally spark.conf.unset("graft.stream.statePartitions")
      val base = byParts.head._2
      assert(base.nonEmpty, s"$name is empty")
      byParts.foreach { case (n, rows) =>
        assert(rows == base, s"$name at $n state partitions")
      }
    }
  }

  test("drain pins the knob's count unless a conf or the checkpoint overrides it") {
    val stage = java.nio.file.Files.createTempDirectory("graft_parts").toFile
    val ck = s"${stage.getPath}_ck"
    try {
      val s = spark
      import s.implicits._
      def write(ids: Seq[Long]) =
        ids.toDF("id").write.mode("append").parquet(stage.getPath)
      // the state-partition count of the drain's one stateful operator
      def parts(confs: Seq[(String, String)] = Nil,
          checkpoint: Option[String] = None): Long =
        stream.Streams.drain(spark,
          spark.readStream.schema("id LONG").parquet(stage.getPath)
            .groupBy($"id" % 3).count()
            .writeStream.outputMode("update").format("noop"),
          confs, checkpoint)
          .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
          .map(_.numShufflePartitions).max
      write(1L to 20L)
      assert(parts() == 1L, "the default drains with one partition")
      try {
        spark.conf.set("graft.stream.statePartitions", "2")
        assert(parts() == 2L, "the knob sets the count")
        assert(parts(Seq("spark.sql.shuffle.partitions" -> "3")) == 3L,
          "an explicit drain conf wins over the knob")
        assert(parts(checkpoint = Some(ck)) == 2L)
      } finally spark.conf.unset("graft.stream.statePartitions")
      write(21L to 30L)
      assert(parts(checkpoint = Some(ck)) == 2L,
        "a restarted checkpoint keeps the count it first started with")
    } finally {
      stream.Streams.deleteRec(stage)
      stream.Streams.deleteRec(new java.io.File(ck))
    }
  }

  test("scratch paths encode the source dir") {
    val a = Scratch.dir("x", "/root/testdata/sf0.01")
    val b = Scratch.dir("x", "/root/testdata/sf0.1")
    assert(a != b)
    assert(a.contains("graft_x_"))
  }

  test("staged builds once, and a failed build leaves no marker") {
    val src = "/knobs_spec/staged"
    stream.Streams.deleteRec(new java.io.File(Scratch.dir("st", src)))
    var builds = 0
    def stage() = Scratch.staged("st", src) { root =>
      builds += 1
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "data"), "x"): Unit
    }
    val root = stage()
    assert(root == Scratch.dir("st", src))
    assert(stage() == root)
    assert(builds == 1, s"build ran $builds times across two calls")
    assert(new java.io.File(root, "data").exists())

    // a build that throws leaves partial output but no _DONE; the next
    // call wipes the root and rebuilds it from empty
    stream.Streams.deleteRec(new java.io.File(root))
    intercept[IllegalStateException] {
      Scratch.staged("st", src) { r =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(r, "partial"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(!new java.io.File(root, "_DONE").exists())
    Scratch.staged("st", src) { r =>
      assert(new java.io.File(r).list().isEmpty, "rebuild root not empty")
    }
    assert(new java.io.File(root, "_DONE").exists())
    stream.Streams.deleteRec(new java.io.File(root))
  }

  test("foldFiles over an empty stage fails with no batches") {
    val stage = java.nio.file.Files.createTempDirectory("graft_fold").toFile
    try {
      val e = intercept[IllegalArgumentException] {
        stream.Streams.foldFiles[Long](spark, stage.getPath, "id LONG") {
          (acc, df) => acc.getOrElse(0L) + df.count()
        }
      }
      assert(e.getMessage.contains("fed no batches"))
    } finally stream.Streams.deleteRec(stage)
  }

  test("scratch roots at the fast ephemeral dir") {
    // The explicit per-witness scratch (sink rewrites, staged sources,
    // checkpointLocation roots) must share the session's root, so one
    // `graft.fastTmp` moves every staged write and state checkpoint.
    assert(Scratch.root == Knobs.fastTmp)
    assert(Scratch.dir("x", "/d").startsWith(Knobs.fastTmp + "/"))
  }
}
