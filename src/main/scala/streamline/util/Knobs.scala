package streamline.util

import org.apache.spark.sql.SparkSession

/** Cluster-size knobs (SURVEY.md §2.12): every constant that should
  * scale with the deployment is read from spark conf with the harness
  * default, so a 100× cluster tunes a conf, not a source file.
  *
  *  - `graft.dedup.blocks` — block-replication factor B of the exact
  *    all-pairs embedding join (q_llm_dedup_embed): each of B cells
  *    evaluates n²/B pairs; size to executors × cores.
  *  - `graft.bucket.count` — bucket count of the bucketed-table join
  *    witness (co-located joins); size to cluster parallelism at
  *    ingest time.
  *  - `graft.stream.statePartitions` — state-store partition count for
  *    streaming queries; each micro-batch pays a fixed per-partition
  *    state-store cost, so size to the executor count (harness: 4).
  *    Applied by Streams.withStreamConfs to every drain and MemoryStream
  *    witness; only the rescale, state-rewrite and state-evolve
  *    witnesses pass explicit counts instead.
  *  - `graft.iter.partitions` — shuffle partition count inside iterative
  *    fixpoint loops (default: min(8, session shuffle partitions)). A
  *    superstep's label table usually shrinks far below the input scan,
  *    so on a large cluster size this to |vertices| / target-partition-
  *    rows rather than the scan-sized session default — the
  *    1000-executor lever.
  *  - `graft.iter.aqe` — whether AQE runs INSIDE iteration loops
  *    (default false). A superstep's plan shape is fixed and its label
  *    table small relative to the input scan, so AQE's per-stage
  *    materialize-and-replan rounds are pure latency there (measured
  *    ~18% of warm loop time at sf0.1); partition sizing is already
  *    explicit via `graft.iter.partitions`. Set true when a superstep
  *    itself is big enough to skew (e.g. a power-law edge join at full
  *    cluster scale). Session AQE outside the loop is untouched.
  */
object Knobs {
  def dedupBlocks(spark: SparkSession): Int =
    spark.conf.get("graft.dedup.blocks", "8").toInt
  def bucketCount(spark: SparkSession): Int =
    spark.conf.get("graft.bucket.count", "8").toInt
  def statePartitions(spark: SparkSession): Int =
    spark.conf.get("graft.stream.statePartitions", "4").toInt
  def iterPartitions(spark: SparkSession): Int =
    spark.conf.get("graft.iter.partitions",
      // default 4 (was 8): harness label tables are a few thousand
      // rows, so every extra partition is pure per-superstep scheduling
      // cost — measured on q_iter_scc at sf0.1: 2 parts 4.4 s, 4 parts
      // 5.8 s, 8 parts 6.3 s, 16 parts 8.5 s. On a cluster, size to
      // |vertices| / target-partition-rows (the scaladoc contract).
      math.min(4, spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .toString).toInt
  def iterAqe(spark: SparkSession): Boolean =
    spark.conf.get("graft.iter.aqe", "false").toBoolean
  /** Broadcast the per-superstep label/rank/delta table into the
    * iteration joins (default true). A superstep's state table is
    * vertex-sized — usually orders of magnitude below the scan the
    * edges came from — and broadcasting it turns every superstep from
    * a 3-stage sort-merge join (re-shuffling the cached edge table
    * each round) into a map-side hash join over the partition-local
    * edge cache plus ONE keyed aggregation shuffle. Set false when the
    * vertex table itself exceeds executor memory (the web-graph
    * regime): every join in the loop then degrades to the keyed
    * shuffle plan with no other change. */
  def iterBroadcast(spark: SparkSession): Boolean =
    spark.conf.get("graft.iter.broadcast", "true").toBoolean

  /** Sign-bits per LSH band in q_llm_dedup_embed_lsh (default 4 — the
    * fixture-scale setting the DuckDB oracle and the recall pin in
    * DedupEmbedLshSpec are written against). Candidate volume is
    * Σ bucket² per band: with FIXED width, bucket occupancy — and so
    * candidate count — grows quadratically with corpus size (measured:
    * c16 = 4.3 in ScalingCurveSpec before this knob). The scale
    * contract is OCCUPANCY-CONSTANT width: raise by log2 of the data
    * blowup (4 bits at 1×, 6 at 4×, 8 at 16×; 8 bands × bits must
    * stay ≤ the embedding dim, 64) — each added bit halves occupancy,
    * keeping the candidate join linear. The recall cost of narrower
    * buckets is the standard LSH trade and is bought back with more
    * bands at cluster scale. */
  /** The harness-default band width — the SINGLE source of truth the
    * DuckDB oracle SQL is generated from (Similarity.dedupEmbedLshSql
    * interpolates this constant), so the Scala plan and the oracle
    * can't silently disagree on the default. A non-default runtime
    * value is legitimate for scale runs (ScalingCurveSpec) but
    * invalidates the static oracle — dedupEmbedLsh flags it loudly. */
  val lshBandBitsDefault: Int = 4

  def lshBandBits(spark: SparkSession): Int = {
    val b = spark.conf.get("graft.lsh.bandBits",
      lshBandBitsDefault.toString).toInt
    require(b >= 1 && 8 * b <= 64, s"graft.lsh.bandBits=$b out of range")
    b
  }

  /** Query-term set of the BM25 retrieval witness (q_llm_bm25),
    * comma-separated. In a deployment the term set comes from the
    * probe query, not source code; the harness default matches the
    * committed oracle (a non-default value is legitimate for scale
    * runs but invalidates the static oracle — bm25 warns once, the
    * same contract as lshBandBits). */
  val bm25TermsDefault: String = "query,join,window"

  def bm25Terms(spark: SparkSession): Seq[String] = {
    val ts = spark.conf.get("graft.bm25.terms", bm25TermsDefault)
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    require(ts.nonEmpty, "graft.bm25.terms must name at least one term")
    ts
  }

  /** Upper bound on distinct 3-shingles per benchmark document, used to
    * size the q_llm_bloom filter WITHOUT an exact counting pass over
    * the shingle stream (capacity = bench docs × this). Size to the
    * corpus' p99 document length in words; too high only wastes filter
    * bits (~9.6 bits/slot at 1% fpp), too low only raises fpp — the
    * exact verify join keeps correctness either way. */
  val bloomShinglesPerDoc: Long = 1024L

  /** Root for single-node scratch I/O — shuffle local dirs, streaming
    * checkpoints and staged sources: `graft.fastTmp` when set, else
    * java.io.tmpdir. A deployment points it (or the plain Spark confs
    * this helper never overrides) at instance or shared storage. */
  def fastTmp: String = {
    val pick = sys.props.getOrElse("graft.fastTmp", sys.props("java.io.tmpdir"))
    new java.io.File(pick).mkdirs()
    pick
  }
}
