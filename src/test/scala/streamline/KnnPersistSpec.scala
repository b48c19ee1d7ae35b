package streamline

import graft.{SparkEntry, SparkSuite}

/** Pins q_llm_knn_persist's persisted-index contract: the parquet
  * index is laid out PARTITIONED BY (band, bkt), a second invocation
  * probes WITHOUT retraining (the `_DONE` marker's mtime is
  * untouched), the probe scan carries partition filters (pruning is
  * the ANN speedup at rest), and the pruned top-10 equals an in-JVM
  * brute force restricted to the probe's bucket candidates — at the
  * default band width and again after `graft.lsh.bandBits` changes in
  * the same session, so an index staged at one width is never probed
  * with buckets of another. */
class KnnPersistSpec extends SparkSuite {

  private def scratchRoot(bits: Int) = new java.io.File(
    streamline.util.Scratch.dir(s"knnidx_b$bits", sfDir))

  private def run(): (Seq[(Long, Double)], org.apache.spark.sql.DataFrame) = {
    val df = SparkEntry.queries("q_llm_knn_persist")(spark, sfDir)
    (df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq, df)
  }

  /** In-JVM brute force over the probe's bucket candidates at the
    * session's current band width; also returns (candidates, corpus)
    * sizes. */
  private def bruteForce(): (Seq[(Long, Double)], Int, Int) = {
    val bits = streamline.util.Knobs.lshBandBits(spark)
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    val probe = emb.head._2
    def bkts(v: Array[Float]) = (0 until 8).map(b =>
      (b, (0 until bits).map(i => if (v(b * bits + i) > 0f) 1 << i else 0).sum))
    val pb = bkts(probe).toSet
    val cand = emb.filter { case (_, v) => bkts(v).exists(pb) }
    // replicates CosineSim's exact accumulation and normalization
    // shape (sqrt(nx)·sqrt(ny), NOT sqrt(nx·ny) — last-ulp parity)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = cand
      .map { case (id, v) =>
        (id, BigDecimal(cos(v, probe))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    (expected, cand.length, emb.length)
  }

  test("persisted index: layout, no-retrain, pruned probe, results") {
    // fresh build at both widths: clear any earlier run's scratch
    Seq(4, 6).foreach(b => stream.Streams.deleteRec(scratchRoot(b)))
    // results first, at the default 4 bits and then at 6 bits in the
    // same session WITHOUT wiping in between: the 6-bit probe must
    // not read the index staged at 4 bits
    val first = try {
      Seq(4, 6).map { bits =>
        spark.conf.set("graft.lsh.bandBits", bits.toString)
        val (got, _) = run()
        val (expected, nCand, nEmb) = bruteForce()
        assert(got === expected, s"pruned top-10 differs at $bits bits")
        // pruning is real: the candidate set is a strict subset
        assert(nCand < nEmb)
        got
      }.head
    } finally spark.conf.unset("graft.lsh.bandBits")

    val root = scratchRoot(4)
    val done = new java.io.File(root, "_DONE")
    assert(done.exists(), "index build left no _DONE marker")
    val builtAt = done.lastModified()
    // layout: hive-style band=/bkt= partition directories
    val bandDirs = new java.io.File(root, "index").listFiles()
      .filter(_.getName.startsWith("band="))
    assert(bandDirs.length == 8, s"expected 8 band dirs, ${bandDirs.length}")
    assert(bandDirs.forall(_.listFiles().exists(_.getName.startsWith("bkt="))))
    // another invocation at 4 bits: same answer, NO retrain
    val (second, df2) = run()
    assert(second === first)
    assert(done.lastModified() == builtAt, "second probe retrained the index")
    // the probe scan prunes: its file scan carries partition filters
    val plan = df2.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("band") && plan.contains("bkt")),
      "probe scan lost its (band, bkt) partition filters")
  }
}
