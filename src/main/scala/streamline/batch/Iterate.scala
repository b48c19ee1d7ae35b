package streamline.batch

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import streamline.{Q, Tables}

/** §2.14 iterative computation (bulk iteration to a fixed point).
  *
  * The reference lineage has first-class batch iteration (upstream
  * `flink-java/.../operators/IterativeDataSet.java`,
  * `flink-runtime/.../iterative/`) driving its graph/ML examples.
  * Spark has no iterate operator in the plan language — the idiomatic
  * equivalent is a driver-side superstep loop over DataFrames, which is
  * exactly what Flink's runtime does too (supersteps with a convergence
  * criterion), just spelled in user code. Each superstep here is a
  * keyed shuffle; the driver only ever sees one aggregated convergence
  * scalar per step, never the data.
  *
  * Scale posture: state per superstep is (vertex, label) — linear in
  * vertices, hash-partitioned by vertex; the propagate step is an
  * equi-join on the edge key. Every superstep output is EAGERLY
  * lineage-truncated (localCheckpoint): a step that references its
  * input twice (join + union, as min-label propagation does) otherwise
  * doubles the logical plan per superstep — Catalyst re-analyzes a
  * 2^k-node tree at superstep k and the driver OOMs long before the
  * data does (measured: sf0.1 dies inside 20 supersteps without
  * truncation, runs in seconds with it). On a cluster the same call
  * should be `checkpoint()` into the reliable checkpoint dir — same
  * semantics, executor-loss-safe; localCheckpoint is the single-node
  * variant of exactly what Flink's iteration runtime does by
  * materializing each superstep.
  */
object Iterate {

  /** Bulk-iteration combinator (IterativeDataSet.iterate equivalent):
    * repeatedly applies `step` until `metric` (any aggregate that
    * strictly changes while work remains — Flink's convergence
    * criterion) stops changing, or `maxIter` supersteps elapse.
    * Returns the fixed point, still persisted.
    *
    * The metric type is generic and compared with `==`: graph metrics
    * here sum 64-bit vertex ids, and a Double image aliases distinct
    * sums above ~2^53 — premature "convergence" with wrong labels.
    * Keep id-sum metrics as Long end to end.
    *
    * `requireConverged = true` makes hitting `maxIter` with the metric
    * still moving an error instead of a silently-unconverged result —
    * set it on loops whose output is WRONG when unconverged (min-label
    * propagation); leave it off where the bound is part of the
    * semantics (bounded relaxation) or the partial result is still
    * sound (SCC trim: an incomplete trim just leaves acyclic vertices
    * for the coloring phase to classify). */
  def fixpoint[M](init: DataFrame, maxIter: Int,
      requireConverged: Boolean = false)(step: DataFrame => DataFrame)(
      metric: DataFrame => M): (DataFrame, Int) = {
    // Eager localCheckpoint: materializes the superstep AND cuts the
    // logical plan back to a leaf — constant-size plans, constant
    // driver memory, no matter how many supersteps run. Old superstep
    // blocks are dropped by the ContextCleaner once unreferenced.
    var cur = init.localCheckpoint(true)
    var m = metric(cur)
    var iters = 0
    while (iters < maxIter) {
      val next = step(cur).localCheckpoint(true)
      val m2 = metric(next)
      iters += 1
      // On convergence return NEXT, not cur: metric equality proves only
      // that the aggregate is unchanged — returning the later superstep
      // is correct even when the metric is not injective up to dataset
      // equality (same cost: next is already materialized).
      if (m2 == m) {
        return (next, iters)
      }
      cur = next
      m = m2
    }
    if (requireConverged)
      throw new IllegalStateException(
        s"fixpoint did not converge within $maxIter supersteps " +
          s"(metric still moving: $m); raise maxIter or audit the step")
    (cur, iters)
  }

  /** Eager localCheckpoint that OBSERVES the aggregate `metricCol`
    * during the materialization job itself (a CollectMetrics node rides
    * the checkpoint pass), returning the checkpointed frame and the
    * observed value. Loops that need a per-superstep convergence scalar
    * read it from here instead of running a second aggregation action —
    * one job per superstep, not two (the separate metric action
    * measured 20-30% of warm loop time at harness scale; on a cluster
    * it is a full extra stage launch per superstep). */
  private def ckptObserving(df: DataFrame,
      metricCol: Column): (DataFrame, Any) = {
    val obs = Observation()
    val out = df.observe(obs, metricCol.as("m")).localCheckpoint(true)
    (out, obs.get("m"))
  }

  /** [[fixpoint]] with the convergence metric fused into the superstep
    * materialization via [[ckptObserving]] — identical iteration
    * semantics (same metric values ⇒ same superstep count ⇒ same fixed
    * point), half the actions per superstep. `metricCol` must be an
    * aggregate expression whose value strictly changes while work
    * remains and that is defined on zero rows (e.g.
    * `coalesce(sum(c), 0L)`). The closure-metric [[fixpoint]] stays for
    * callers whose metric is not a single Column. */
  def fixpointObserved(init: DataFrame, maxIter: Int,
      requireConverged: Boolean = false)(step: DataFrame => DataFrame)(
      metricCol: Column): (DataFrame, Int) = {
    var (cur, m) = ckptObserving(init, metricCol)
    var iters = 0
    while (iters < maxIter) {
      val (next, m2) = ckptObserving(step(cur), metricCol)
      iters += 1
      if (m2 == m) return (next, iters)
      cur = next
      m = m2
    }
    if (requireConverged)
      throw new IllegalStateException(
        s"fixpoint did not converge within $maxIter supersteps " +
          s"(metric still moving: $m); raise maxIter or audit the step")
    (cur, iters)
  }

  /** Connected components by min-label propagation over an undirected
    * edge list `(src, dst)`: every vertex converges to the smallest
    * vertex id reachable from it. Deterministic for any partitioning
    * (min is order-independent), so the result is oracle-exact. */
  /** Iteration-scoped session confs, restored on exit: shuffle
    * partitions sized to the label table (Knobs.iterPartitions — each
    * superstep pays stages × partitions fixed scheduling/materialize
    * cost) and AQE off by default (Knobs.iterAqe — a superstep's plan
    * shape is fixed and tiny, so AQE's materialize-and-replan rounds
    * are pure per-superstep latency; measured ~18% of warm loop time). */
  private def withIterConfs[A](spark: SparkSession)(body: => A): A =
    SkewJoin.withConfs(spark, Seq(
      "spark.sql.shuffle.partitions" ->
        streamline.util.Knobs.iterPartitions(spark).toString,
      "spark.sql.adaptive.enabled" ->
        streamline.util.Knobs.iterAqe(spark).toString))(body)

  /** Broadcast wrap for per-superstep state tables (Knobs.iterBroadcast
    * scaladoc: map-side joins against the partition-local edge cache at
    * harness/bounded-vertex scale; identity ⇒ keyed shuffle plans in
    * the web-graph regime). */
  private def stateSide(df: DataFrame): DataFrame =
    if (streamline.util.Knobs.iterBroadcast(df.sparkSession)) broadcast(df)
    else df

  def connectedComponents(edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) =
    withIterConfs(edges.sparkSession)(connectedComponentsImpl(edges, maxIter))

  private def connectedComponentsImpl(edges: DataFrame,
                                      maxIter: Int): (DataFrame, Int) = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Undirect: propagate both ways each superstep.
    val undirected = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .persist()
    // Initialize each vertex to the min over its closed neighborhood
    // (itself + direct neighbors) — one keyed aggregation that does the
    // work of the first propagate superstep before the loop starts.
    val init = undirected.select($"src".as("v"), $"dst".as("comp"))
      .union(undirected.select($"src".as("v"), $"src".as("comp")))
      .groupBy($"v").agg(min($"comp").as("comp"))
    // One propagate hop: each vertex takes min(own label, neighbors'
    // labels) — a map-side hash join against the partition-local edge
    // cache when the label table broadcasts (stateSide); the cached
    // edge table is never re-shuffled per superstep. The input must be
    // MATERIALIZED (checkpointed) before this is called: broadcasting
    // an un-materialized plan re-executes it inside the broadcast
    // build (measured 30 s/superstep in the r13 double-halving
    // experiment vs 0.4 s from a checkpointed leaf).
    def hop(comp: DataFrame): DataFrame = {
      val fromNeighbors = undirected
        .join(stateSide(comp), undirected("src") === comp("v"))
        .select(undirected("dst").as("v"), comp("comp"))
      comp.union(fromNeighbors)
        .groupBy($"v").agg(min($"comp").as("comp"))
    }
    val (fixed, iters) = fixpointObserved(init, maxIter,
        requireConverged = true) { comp =>
      // TWO propagate hops per superstep, then one path-halving jump.
      // Convergence here is gated by how far min-label information
      // travels per superstep (one edge-hop per propagate); the r13
      // profile measured the per-superstep cost as ~fixed (materialize
      // + convergence action at 4 partitions) regardless of data size,
      // so packing two hops into each superstep halves the superstep
      // COUNT for ~1.5× the per-superstep work — measured 12→6
      // supersteps on the sparse first micro-batch of q_stream_iterate.
      // Each hop's input is checkpointed first (see hop's scaladoc).
      // Re-measured r22: dropping the two mid-superstep checkpoints
      // (3 jobs → 1, ~4× duplicated compute through the broadcast
      // builds) read 15-25% SLOWER warm on cc/stream_iterate — the
      // serialized broadcast-build re-execution outweighs the saved
      // job launches even at 6.7k-edge scale, so the materialized
      // shape stays.
      val p1 = hop(comp).localCheckpoint(true)
      val propagated = hop(p1).localCheckpoint(true)
      // …then path-halving (pointer jumping): v additionally adopts its
      // label's label. Every label IS a vertex id, so the inner
      // self-join is total; label distances halve per superstep on top
      // of the two propagate hops.
      // (fresh aliases on the second side: Spark's self-join attribute
      // dedup chokes on plan-identical sides under a Union child)
      val lut = propagated.select($"v".as("lv"), $"comp".as("lcomp"))
      propagated.join(stateSide(lut), $"comp" === $"lv")
        .select($"v", least($"comp", $"lcomp").as("comp"))
    } {
      // Σ labels strictly decreases until the fixed point; kept as
      // Long end to end — a Double image aliases distinct sums above
      // ~2^53, faking convergence on billion-vertex id spaces.
      // coalesce: sum() over zero rows is NULL — an empty edge set
      // (e.g. a month filter matching no orders) must converge to an
      // empty result, not NPE on the non-nullable Long decode.
      coalesce(sum($"comp"), lit(0L))
    }
    undirected.unpersist()
    (fixed, iters)
  }

  /** Delta-iteration combinator (the lineage's second first-class
    * iteration type: upstream `flink-java/.../operators/DeltaIteration
    * .java` — solution set + workset): `step` consumes the current
    * solution and the workset (elements that changed last superstep)
    * and returns the DELTA (solution rows to replace, keyed by `key`)
    * — which is also the next workset. Iterates until the delta is
    * empty or `maxIter`. The efficiency property over bulk iteration:
    * per-superstep work is proportional to what CHANGED, not to the
    * whole solution — on most graphs the workset collapses within a few
    * supersteps while a bulk superstep would keep shuffling every
    * vertex. Same eager lineage truncation per superstep as
    * [[fixpoint]]. */
  def deltaIterate(initSolution: DataFrame, key: String, maxIter: Int)(
      step: (DataFrame, DataFrame) => DataFrame): (DataFrame, Int) = {
    // Emptiness of the init workset and of every delta is OBSERVED
    // during the frame's own checkpoint materialization (ckptObserving)
    // instead of a separate isEmpty action per superstep — the old
    // shape ran 2 extra jobs per superstep (delta.isEmpty + the
    // loop-top workset.isEmpty re-check) purely to read a row count
    // the materialization already knew.
    val (solution0, n0) = ckptObserving(initSolution, count(lit(1)))
    var solution = solution0
    var workset = solution0
    var worksetRows = n0.asInstanceOf[Long]
    var iters = 0
    while (iters < maxIter && worksetRows > 0L) {
      val (delta, nd) = ckptObserving(step(solution, workset), count(lit(1)))
      iters += 1
      if (nd.asInstanceOf[Long] == 0L) return (solution, iters)
      // the delta is frontier-sized (what CHANGED last superstep) —
      // broadcast it into the solution-replacement anti-join
      solution = solution.join(stateSide(delta), Seq(key), "left_anti")
        .union(delta)
        .localCheckpoint(true)
      workset = delta
      worksetRows = nd.asInstanceOf[Long]
    }
    (solution, iters)
  }

  /** q_iter_cc — connected components of the customer–supplier graph
    * induced by one month of orders (customer c is linked to supplier s
    * when s supplied a line of an order placed by c in 1997-01).
    * Supplier vertex ids are offset by 1,000,000 to disjoint the two
    * key spaces. Output: every vertex with its component label plus the
    * component size, totally ordered. */
  private def iterCc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-02-01").cast("timestamp"))
    val edges = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + lit(1000000L)).as("dst"))
      .distinct()
    val (comp, _) = connectedComponents(edges)
    val sizes = comp.groupBy($"comp").agg(count(lit(1)).as("comp_size"))
    comp.join(sizes, "comp")
      .select($"v", $"comp", $"comp_size")
      .orderBy($"v")
  }

  /** Oracle: reachability closure via recursive CTE, then min over the
    * reachable set — the textbook (quadratic) spelling of the same
    * fixed point; the iterative plan above is the one that scales. */
  private val iterCcSql = """
    WITH RECURSIVE
    e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-02-01 00:00:00'),
    u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    reach(v, r) AS (
      SELECT src, src FROM u
      UNION
      SELECT reach.v, u.dst FROM reach JOIN u ON reach.r = u.src),
    comp AS (SELECT v, min(r) AS comp FROM reach GROUP BY v),
    sizes AS (SELECT comp, count(*) AS comp_size FROM comp GROUP BY comp)
    SELECT v, comp.comp AS comp, comp_size
    FROM comp JOIN sizes USING (comp)
    ORDER BY v"""

  /** Connected components via delta iteration: per superstep only the
    * vertices whose label CHANGED send messages, the delta is the set
    * of vertices whose label improved, and the workset shrinks toward
    * empty — Flink's own canonical DeltaIteration example
    * ([UPSTREAM `flink-examples-batch/.../graph/ConnectedComponents
    * .java`]). O(diameter) supersteps, but each superstep touches only
    * the frontier. Exposed for IterateSpec. */
  def connectedComponentsDelta(edges: DataFrame,
                               maxIter: Int = 50): (DataFrame, Int) = {
    val spark = edges.sparkSession
    import spark.implicits._
    withIterConfs(spark) {
      val undirected = edges.select($"src", $"dst")
        .union(edges.select($"dst".as("src"), $"src".as("dst")))
        .persist()
      val init = undirected.select($"src".as("v"), $"dst".as("comp"))
        .union(undirected.select($"src".as("v"), $"src".as("comp")))
        .groupBy($"v").agg(min($"comp").as("comp"))
      val (fixed, iters) = deltaIterate(init, "v", maxIter) {
        (solution, workset) =>
          // only changed vertices message their neighbors…
          val msgs = undirected
            .join(stateSide(workset), undirected("src") === workset("v"))
            .select(undirected("dst").as("v"), workset("comp"))
            .groupBy($"v").agg(min($"comp").as("cand"))
          // …and the delta is the strict improvements over the solution
          // (messages are frontier-sized ⇒ the broadcast side)
          solution.join(stateSide(msgs), "v")
            .where($"cand" < $"comp")
            .select($"v", $"cand".as("comp"))
      }
      undirected.unpersist()
      (fixed, iters)
    }
  }

  /** q_iter_delta — delta-iteration connected components on the
    * 1997-02 order month (a different workload than q_iter_cc's bulk
    * form on 1997-01). */
  private def iterDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-02-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-03-01").cast("timestamp"))
    val edges = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + lit(1000000L)).as("dst"))
      .distinct()
    val (comp, _) = connectedComponentsDelta(edges)
    val sizes = comp.groupBy($"comp").agg(count(lit(1)).as("comp_size"))
    comp.join(sizes, "comp")
      .select($"v", $"comp", $"comp_size")
      .orderBy($"v")
  }

  private val iterDeltaSql = """
    WITH RECURSIVE
    e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderdate >= TIMESTAMP '1997-02-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-03-01 00:00:00'),
    u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    reach(v, r) AS (
      SELECT src, src FROM u
      UNION
      SELECT reach.v, u.dst FROM reach JOIN u ON reach.r = u.src),
    comp AS (SELECT v, min(r) AS comp FROM reach GROUP BY v),
    sizes AS (SELECT comp, count(*) AS comp_size FROM comp GROUP BY comp)
    SELECT v, comp.comp AS comp, comp_size
    FROM comp JOIN sizes USING (comp)
    ORDER BY v"""

  /** q_iter_pagerank — PageRank (the lineage's other flagship iterative
    * example, [UPSTREAM `flink-examples-batch/.../graph/PageRank.java`])
    * in FIXED-POINT integer arithmetic: ranks are bigint micro-units
    * (scale 1e12) and every step is integer div/mul, so the result is
    * bit-exact regardless of partition count or merge order — the same
    * trick that makes the centroid and money queries hashable, applied
    * to an iterative float algorithm. 10 supersteps, damping 85/100, on
    * the 1997-03 customer–supplier graph (undirected ⇒ no dangling
    * vertices). Each superstep: one keyed join (ranks ⋈ edges) and one
    * keyed sum — linear state, lineage-truncated per step. */
  private def iterPagerank(spark: SparkSession, dir: String): DataFrame =
    withIterConfs(spark)(iterPagerankImpl(spark, dir))

  private def iterPagerankImpl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val SCALE = 1000000000000L
    val iters = 10
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-03-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-04-01").cast("timestamp"))
    val edges = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + lit(1000000L)).as("dst"))
      .distinct()
    val und = edges.union(edges.select($"dst".as("src"), $"src".as("dst")))
      .persist()
    val outdeg = und.groupBy($"src".as("v"))
      .agg(count(lit(1)).as("deg")).persist()
    val n = outdeg.count()
    if (n == 0) return und.select($"src".as("v"), $"src".as("rank_fp")).limit(0)
    val base = (SCALE / n) * 15L / 100L
    // deg is a per-vertex constant: carry it IN the rank table instead
    // of re-joining outdeg every superstep — one broadcast per round,
    // not two, and no join to build the broadcast side.
    var ranks = outdeg.select($"v", lit(SCALE / n).as("r"), $"deg")
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      // `div` (integral divide), NOT `/`: Column `/` is double division,
      // and a true quotient half-an-ulp under an integer rounds UP in
      // double then truncates wrong — bit-exactness requires integer div.
      val contrib = und
        .join(stateSide(ranks), und("src") === $"v")
        .select(und("dst").as("v"), expr("r div deg").as("c"))
        .groupBy($"v").agg(sum($"c").as("contrib"))
      ranks = outdeg
        .join(stateSide(contrib), Seq("v"), "left")
        .select($"v",
          (lit(base) + expr("(coalesce(contrib, 0L) * 85) div 100"))
            .as("r"), $"deg")
        .localCheckpoint(true)
    }
    und.unpersist(); outdeg.unpersist()
    ranks.select($"v", $"r".as("rank_fp")).orderBy($"v")
  }

  /** Oracle: the same 10 integer-arithmetic rounds as chained CTEs —
    * bit-exact because // (integer division) truncates identically. */
  private val iterPagerankSql = {
    val rounds = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT d.v,
         |    CAST(b.base + ((coalesce(c.contrib, 0) * 85) // 100)
         |         AS BIGINT) AS r
         |  FROM deg d CROSS JOIN b
         |  LEFT JOIN (
         |    SELECT u.dst AS v, sum(p.r // d2.deg) AS contrib
         |    FROM r${i - 1} p JOIN deg d2 ON p.v = d2.v
         |                     JOIN u ON u.src = p.v
         |    GROUP BY u.dst) c ON c.v = d.v)""".stripMargin
    }.mkString(",\n")
    s"""
    WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'),
    u AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src AS v, count(*) AS deg FROM u GROUP BY src),
    n AS (SELECT count(*) AS n FROM deg),
    b AS (SELECT ((1000000000000 // n) * 15) // 100 AS base,
                 1000000000000 // n AS rinit FROM n),
    r0 AS (SELECT v, (SELECT rinit FROM b) AS r FROM deg),
    $rounds
    SELECT v, r AS rank_fp FROM r10 ORDER BY v"""
  }

  /** Vertex-centric (Pregel / upstream `flink-graphs`-style
    * vertex-centric iteration) combinator over [[deltaIterate]]: a
    * superstep is message generation from the CHANGED vertices
    * (`messageGen`: workset → raw (v, msg) rows), a per-vertex
    * aggregator (`combine` — min/sum/…, one combined message per
    * vertex), and a vertex update (`update`: (solution, combined) →
    * delta = strictly improved vertex states). Messages are
    * frontier-sized; the solution joins by [[stateSide]] (broadcast at
    * bounded-vertex scale, keyed shuffle in the web-graph regime via
    * `graft.iter.broadcast=false`) — the same accounting Flink's
    * vertex-centric runtime does with its solution-set index. */
  def vertexCentric(initSolution: DataFrame, key: String, maxIter: Int)(
      messageGen: DataFrame => DataFrame)(
      combine: DataFrame => DataFrame)(
      update: (DataFrame, DataFrame) => DataFrame): (DataFrame, Int) =
    withIterConfs(initSolution.sparkSession) {
      deltaIterate(initSolution, key, maxIter) { (solution, workset) =>
        update(solution, combine(messageGen(workset)))
      }
    }

  /** q_iter_sssp — single-source shortest paths by Bellman-Ford over
    * [[vertexCentric]]: distances over the weighted 1997-04
    * customer–supplier graph (edge weight = number of lineitems linking
    * the pair — a deterministic positive integer), source = smallest
    * vertex id. Bounded to ≤8 edge hops so the oracle's recursive CTE
    * terminates on the cyclic graph — after k supersteps the solution
    * is exactly min-distance over paths of ≤k edges (Bellman-Ford
    * invariant), and early convergence (empty delta) only ever equals
    * the bound's answer. Per-superstep work ∝ frontier messages, the
    * delta-iteration property. */
  private def iterSssp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val maxHops = 8
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-04-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-05-01").cast("timestamp"))
    val pairEdges = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey".as("src"),
        ($"l_suppkey" + lit(1000000L)).as("dst"))
      .agg(count(lit(1)).as("w"))
    val undirected = pairEdges.select($"src", $"dst", $"w")
      .union(pairEdges.select($"dst".as("src"), $"src".as("dst"), $"w"))
      .persist()
    val source = undirected.agg(min($"src")).as[Long].head()
    val init = Seq((source, 0L)).toDF("v", "dist")
    val (fixed, _) = vertexCentric(init, "v", maxHops) { workset =>
      undirected.join(stateSide(workset),
          undirected("src") === workset("v"))
        .select(undirected("dst").as("v"),
          (workset("dist") + undirected("w")).as("msg"))
    } { msgs =>
      msgs.groupBy($"v").agg(min($"msg").as("msg"))
    } { (solution, combined) =>
      combined.join(stateSide(solution), Seq("v"), "left_outer")
        .where($"dist".isNull || $"msg" < $"dist")
        .select($"v", $"msg".as("dist"))
    }
    undirected.unpersist()
    fixed.orderBy($"v")
  }

  /** Oracle: bounded-hop reachability closure carrying (distance, hops)
    * and min-distance per vertex — finite because hops ≤ 8 and UNION
    * dedups the (v, d, h) states. */
  private val iterSsspSql = """
    WITH RECURSIVE
    e AS (SELECT o_custkey AS src, l_suppkey + 1000000 AS dst,
                 count(*) AS w
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderdate >= TIMESTAMP '1997-04-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-05-01 00:00:00'
          GROUP BY 1, 2),
    u AS (SELECT src, dst, w FROM e
          UNION ALL SELECT dst, src, w FROM e),
    reach(v, d, h) AS (
      SELECT (SELECT min(src) FROM u), 0, 0
      UNION
      SELECT u.dst, reach.d + u.w, reach.h + 1
      FROM reach JOIN u ON u.src = reach.v
      WHERE reach.h < 8)
    SELECT v, min(d) AS dist FROM reach GROUP BY v ORDER BY v"""

  /** q_iter_triangles — triangle counting on the supplier co-supply
    * graph (suppliers linked when they supplied the same 1997-01
    * order), per-vertex participation counts. The naive 3-way self-join
    * enumerates every wedge at every vertex — Σᵥ C(deg v, 2) blows up
    * on the high-degree tail exactly where a 100 TB graph has its mass.
    * This is the DEGREE-ORIENTED algorithm instead: orient every edge
    * from the (degree, id)-smaller endpoint to the larger, making the
    * graph a DAG whose out-degree is O(√m); wedges are then generated
    * only at each edge's SMALLER endpoint (Σ out-deg² = O(m^1.5) total
    * work, the optimal bound for exact counting) and closed by one
    * semi-join back against the oriented edge set. Every join is a
    * keyed shuffle; each triangle is found exactly once (u <o v <o w in
    * orientation order). The oracle spells the same count as the
    * textbook a<b<c 3-way join — identical result, the oriented plan is
    * the one that scales. */
  private def iterTriangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-02-01").cast("timestamp"))
    val lines = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_orderkey".as("ok"), $"l_suppkey".as("s"))
      .distinct()
    val e = lines.as("x").join(lines.as("y"),
        $"x.ok" === $"y.ok" && $"x.s" < $"y.s")
      .select($"x.s".as("a"), $"y.s".as("b"))
      .distinct()
      .localCheckpoint(true) // feeds degree + orientation + closure
    val deg = e.select($"a".as("v")).union(e.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select($"v".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"v".as("b"), $"deg".as("db")), "b")
    // Orient by (deg, id): u = smaller endpoint, w = larger; carry w's
    // key so wedge generation can order the two far endpoints by the
    // SAME total order (the closing edge is then exactly v→w).
    val oriented = withDeg.select(
      when(struct($"da", $"a") < struct($"db", $"b"),
        struct($"a".as("u"), $"b".as("w"), $"db".as("dw")))
        .otherwise(struct($"b".as("u"), $"a".as("w"), $"da".as("dw")))
        .as("e"))
      .select($"e.u".as("u"), $"e.w".as("w"), $"e.dw".as("dw"))
      .localCheckpoint(true)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        $"e1.u" === $"e2.u" &&
          struct($"e1.dw", $"e1.w") < struct($"e2.dw", $"e2.w"))
      .select($"e1.u".as("tu"), $"e1.w".as("tv"), $"e2.w".as("tw"))
    val tri = wedges.join(oriented,
        wedges("tv") === oriented("u") && wedges("tw") === oriented("w"),
        "left_semi")
    tri.select($"tu".as("v"))
      .union(tri.select($"tv".as("v")))
      .union(tri.select($"tw".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("n_tri"))
      .select($"v".as("suppkey"), $"n_tri")
      .orderBy($"suppkey")
  }

  private val iterTrianglesSql = """
    WITH l AS (SELECT DISTINCT o_orderkey AS ok, l_suppkey AS s
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey
               WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                 AND o_orderdate < TIMESTAMP '1997-02-01 00:00:00'),
    e AS (SELECT DISTINCT x.s AS a, y.s AS b
          FROM l x JOIN l y ON x.ok = y.ok AND x.s < y.s),
    tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
              JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
    v AS (SELECT x AS v FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    SELECT v AS suppkey, count(*) AS n_tri
    FROM v GROUP BY v ORDER BY suppkey"""

  /** q_iter_kcore — k-core peeling (k = 3, three rounds) on the
    * customer–supplier month graph: repeatedly drop vertices with
    * degree < k and restrict the edge set to survivors. Vertex-REMOVAL
    * dynamics — a different iteration family from the label
    * propagation (cc/sssp) and value mixing (pagerank) already
    * witnessed: the per-round work is one keyed degree count plus two
    * semi joins, and the edge set only ever SHRINKS, so each superstep
    * is cheaper than the last. Rounds are fixed at 3 to match the
    * oracle's non-recursive chained-CTE spelling exactly (the
    * unbounded form is `fixpoint` over the same step; bounding is what
    * makes the cut engine-portable — a converged core is identical in
    * both, a partial peel is only comparable at equal round counts).
    * Output: surviving edges' per-vertex degrees after round 3. */
  private def iterKcore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 3
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-02-01").cast("timestamp"))
    val pairs = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("a"), ($"l_suppkey" + lit(1000000L)).as("b"))
      .distinct()
    var edges = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
      .localCheckpoint(true)
    for (_ <- 1 to 3) {
      val keep = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        .where($"deg" >= k).select($"src")
      edges = edges
        .join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select($"src", $"dst")
        .localCheckpoint(true)
    }
    edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      .select($"src".as("v"), $"deg")
      .orderBy($"v")
  }

  private val iterKcoreSql = """
    WITH d AS (SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey
               WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                 AND o_orderdate < TIMESTAMP '1997-02-01 00:00:00'),
    e0 AS (SELECT a AS src, b AS dst FROM d
           UNION ALL SELECT b, a FROM d),
    k1 AS (SELECT src AS v FROM e0 GROUP BY src HAVING count(*) >= 3),
    e1 AS (SELECT src, dst FROM e0
           WHERE src IN (SELECT v FROM k1) AND dst IN (SELECT v FROM k1)),
    k2 AS (SELECT src AS v FROM e1 GROUP BY src HAVING count(*) >= 3),
    e2 AS (SELECT src, dst FROM e1
           WHERE src IN (SELECT v FROM k2) AND dst IN (SELECT v FROM k2)),
    k3 AS (SELECT src AS v FROM e2 GROUP BY src HAVING count(*) >= 3),
    e3 AS (SELECT src, dst FROM e2
           WHERE src IN (SELECT v FROM k3) AND dst IN (SELECT v FROM k3))
    SELECT src AS v, count(*) AS deg FROM e3 GROUP BY src ORDER BY v"""

  /** q_iter_mis — maximal-independent-set selection (Luby's algorithm
    * with the deterministic id priority, i.e. parallel lexicographic
    * greedy), 3 rounds on the 1997-02 customer–supplier graph: each
    * round every undecided vertex smaller than ALL its undecided
    * neighbors (or with none left) joins the set, its neighbors leave
    * as excluded, and the round repeats on the shrunken graph — the
    * SELECTION iteration family (vs label propagation, value mixing,
    * and vertex removal already witnessed). Rounds fixed at 3 to match
    * the oracle's chained-CTE spelling, like q_iter_kcore; the
    * unbounded form is the same step under `fixpoint`. Per round: one
    * keyed min-neighbor aggregate + semi/anti joins, all on the vertex
    * key; the undecided set only SHRINKS (on random graphs it decays
    * geometrically — Luby's bound), so supersteps get cheaper. Output:
    * every vertex with status in/out/undecided after round 3. */
  private def iterMis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-02-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-03-01").cast("timestamp"))
    val pairs = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("a"), ($"l_suppkey" + lit(1000000L)).as("b"))
      .distinct()
    val undirected = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
    misRounds(undirected, 3).orderBy($"v")
  }

  /** The bounded greedy-MIS rounds on a symmetric edge list (both
    * directions present), exposed for IterateSpec's property tests.
    * Converged output (no `undecided` left) equals the sequential
    * lexicographic greedy MIS: smallest vertex in, its neighbors out,
    * repeat on the rest. */
  def misRounds(edges0: DataFrame, rounds: Int): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val edges = edges0.localCheckpoint(true)
    var und = edges.select($"src".as("v")).distinct().localCheckpoint(true)
    val taken = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val dropped = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to rounds) {
      val e = edges
        .join(und.select($"v".as("sv")), $"src" === $"sv", "left_semi")
        .join(und.select($"v".as("dv")), $"dst" === $"dv", "left_semi")
        .select($"src", $"dst").localCheckpoint(true)
      val minNbr = e.groupBy($"src").agg(min($"dst").as("mn"))
      val sel = und.join(minNbr, $"v" === $"src", "left_outer")
        .where($"mn".isNull || $"v" < $"mn")
        .select($"v").localCheckpoint(true)
      val out = e.join(sel.select($"v".as("sv")), $"src" === $"sv",
          "left_semi")
        .select($"dst".as("v")).distinct().localCheckpoint(true)
      taken += sel
      dropped += out
      und = und
        .join(sel, Seq("v"), "left_anti")
        .join(out, Seq("v"), "left_anti")
        .localCheckpoint(true)
    }
    val inSet = taken.reduce(_ unionByName _).select($"v",
      lit("in").as("status"))
    val outSet = dropped.reduce(_ unionByName _).select($"v",
      lit("out").as("status"))
    inSet.unionByName(outSet).unionByName(
        und.select($"v", lit("undecided").as("status")))
      .orderBy($"v")
  }

  /** Oracle: the 3 greedy rounds unrolled as chained CTEs — per round
    * the undecided-restricted edge set, the min undecided neighbor,
    * the selected minima, and their excluded neighborhoods. */
  private val iterMisSql = """
    WITH d AS (SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey
               WHERE o_orderdate >= TIMESTAMP '1997-02-01 00:00:00'
                 AND o_orderdate < TIMESTAMP '1997-03-01 00:00:00'),
    e0 AS (SELECT a AS src, b AS dst FROM d UNION ALL SELECT b, a FROM d),
    u0 AS (SELECT DISTINCT src AS v FROM e0),
    m1 AS (SELECT src, min(dst) AS mn FROM e0 GROUP BY src),
    s1 AS (SELECT v FROM u0 LEFT JOIN m1 ON v = src
           WHERE mn IS NULL OR v < mn),
    x1 AS (SELECT DISTINCT dst AS v FROM e0
           WHERE src IN (SELECT v FROM s1)),
    u1 AS (SELECT v FROM u0 WHERE v NOT IN (SELECT v FROM s1)
             AND v NOT IN (SELECT v FROM x1)),
    e1 AS (SELECT src, dst FROM e0
           WHERE src IN (SELECT v FROM u1) AND dst IN (SELECT v FROM u1)),
    m2 AS (SELECT src, min(dst) AS mn FROM e1 GROUP BY src),
    s2 AS (SELECT v FROM u1 LEFT JOIN m2 ON v = src
           WHERE mn IS NULL OR v < mn),
    x2 AS (SELECT DISTINCT dst AS v FROM e1
           WHERE src IN (SELECT v FROM s2)),
    u2 AS (SELECT v FROM u1 WHERE v NOT IN (SELECT v FROM s2)
             AND v NOT IN (SELECT v FROM x2)),
    e2 AS (SELECT src, dst FROM e1
           WHERE src IN (SELECT v FROM u2) AND dst IN (SELECT v FROM u2)),
    m3 AS (SELECT src, min(dst) AS mn FROM e2 GROUP BY src),
    s3 AS (SELECT v FROM u2 LEFT JOIN m3 ON v = src
           WHERE mn IS NULL OR v < mn),
    x3 AS (SELECT DISTINCT dst AS v FROM e2
           WHERE src IN (SELECT v FROM s3)),
    u3 AS (SELECT v FROM u2 WHERE v NOT IN (SELECT v FROM s3)
             AND v NOT IN (SELECT v FROM x3))
    SELECT v, status FROM (
      SELECT v, 'in' AS status FROM s1
      UNION ALL SELECT v, 'in' FROM s2
      UNION ALL SELECT v, 'in' FROM s3
      UNION ALL SELECT v, 'out' FROM x1
      UNION ALL SELECT v, 'out' FROM x2
      UNION ALL SELECT v, 'out' FROM x3
      UNION ALL SELECT v, 'undecided' FROM u3)
    ORDER BY v"""

  /** Directed min-label propagation to a fixed point, with pointer
    * jumping: label(v) converges to the smallest vertex with a directed
    * path TO v over `e` (src → dst). Pointer jumping stays valid in the
    * directed case — if u reaches v and t reaches u then t reaches v —
    * so convergence is O(log diameter) supersteps like the undirected
    * CC loop. `init` must contain every vertex keyed by `v` with a
    * starting `comp` that is itself a vertex id. */
  private def minLabelFixpoint(init: DataFrame, e: DataFrame): DataFrame = {
    val spark = init.sparkSession
    import spark.implicits._
    fixpointObserved(init, 100, requireConverged = true) { comp =>
      val fromIn = e.join(stateSide(comp), e("src") === comp("v"))
        .select(e("dst").as("v"), comp("comp"))
      // No mid-step localCheckpoint (unlike the undirected CC loop):
      // the SCC color tables are core-subgraph-sized and the halving
      // self-join reuses the propagate exchange via ReuseExchange —
      // measured ~10% faster on the warm loop than materializing twice.
      // (The CC loop's two-hops-per-superstep trick was measured here
      // too — r13: 6.92 → 7.22 s warm, a wash — the coloring sweeps
      // run ~6 supersteps already and the mandatory mid-hop checkpoint
      // eats the count saving, so the single-hop shape stays.)
      val prop = comp.union(fromIn)
        .groupBy($"v").agg(min($"comp").as("comp"))
      val lut = prop.select($"v".as("lv"), $"comp".as("lcomp"))
      prop.join(stateSide(lut), $"comp" === $"lv")
        .select($"v", least($"comp", $"lcomp").as("comp"))
    } {
      coalesce(sum($"comp"), lit(0L))
    }._1
  }

  /** Strongly connected components of a directed edge list `(src, dst)`
    * by parallel trim + forward/backward min-label coloring (Orzan's
    * coloring algorithm / the FW-BW-Trim family of Slota et al.; the
    * Gelly lineage ships SCC among its library examples). Per outer
    * round on the remaining graph:
    *
    *  1. TRIM — iteratively drop vertices missing an in- or an
    *     out-edge: they cannot lie on a cycle, so each is its own
    *     singleton SCC (`scc_id = v`).
    *  2. FORWARD COLORING — [[minLabelFixpoint]] along edge direction:
    *     F(v) = the smallest remaining vertex that reaches v. The color
    *     classes partition the graph, each class's minimum IS its color
    *     c (anything smaller reaching a member would also reach c), and
    *     every path between two same-SCC members stays inside their
    *     class.
    *  3. BACKWARD SWEEP — the same fixpoint along the REVERSED
    *     class-internal edges: B(v) = the smallest same-color vertex v
    *     reaches. B(v) = F(v) = c exactly when v and its color root c
    *     reach each other, i.e. v ∈ SCC(c) — so one sweep extracts the
    *     root SCC of EVERY color in parallel, emitted with scc_id = c =
    *     the minimum member id.
    *
    * Extracted SCCs leave the graph and the round repeats; the round
    * count is bounded by the depth of the condensation DAG, not the
    * vertex count. Every step is a keyed join/aggregate on the vertex
    * key (min is order-independent ⇒ oracle-exact), state tables follow
    * the `graft.iter.broadcast` knob, and each superstep is
    * lineage-truncated like every loop in this module. Returns
    * `((v, scc_id), rounds)` with scc_id = min vertex id of v's SCC. */
  def stronglyConnectedComponents(edges0: DataFrame,
                                  maxRounds: Int = 50): (DataFrame, Int) = {
    val spark = edges0.sparkSession
    import spark.implicits._
    withIterConfs(spark) {
      // Seed: the distinct edge set, its count observed on the same
      // materialization. The whole loop is driven by EDGE counts —
      // once no edges remain, every undecided vertex is a singleton
      // SCC and is resolved by the one final anti-join below (the old
      // shape paid a per-round except-checkpoint for the trimmed
      // singletons plus a per-round vertex recount).
      val (e0, ne0) = ckptObserving(
        edges0.select($"src", $"dst").distinct(), count(lit(1)))
      var edges = e0
      var remainingEdges = ne0.asInstanceOf[Long]
      val found = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var rounds = 0
      while (remainingEdges > 0 && rounds < maxRounds) {
        rounds += 1
        // (1) TRIM, edge-state form: live edges keep only endpoints
        // that retain BOTH an in- and an out-edge. Carrying EDGES as
        // the fixpoint state (instead of vertices) hands the trimmed
        // edge table to the coloring phase directly — the old shape
        // re-derived it with an extra double-semi-join checkpoint
        // after the vertex fixpoint. The survivor set is one keyed
        // min/max aggregate (a countDistinct spelling plans a second
        // aggregate pass + exchange). Trim only REMOVES edges, so an
        // unchanged count proves the fixed point; the 200-step cap is
        // uncritical (a partial trim just leaves acyclic vertices for
        // the coloring to classify, and the leftovers resolve as
        // singletons at the end).
        var e = edges
        var ec = remainingEdges
        var trimIters = 0
        var trimConverged = false
        while (!trimConverged && trimIters < 200) {
          trimIters += 1
          val vBoth = e.select($"src".as("v"), lit(0).as("side"))
            .union(e.select($"dst".as("v"), lit(1).as("side")))
            .groupBy($"v").agg(min($"side").as("mn"), max($"side").as("mx"))
            .where($"mn" === 0 && $"mx" === 1)
            .select($"v")
          val live = e
            .join(stateSide(vBoth.select($"v".as("sv"))), $"src" === $"sv",
              "left_semi")
            .join(stateSide(vBoth.select($"v".as("dv"))), $"dst" === $"dv",
              "left_semi")
          val (e2, n2raw) = ckptObserving(live, count(lit(1)))
          val n2 = n2raw.asInstanceOf[Long]
          if (n2 == ec || n2 == 0) trimConverged = true
          e = e2; ec = n2
        }
        if (ec == 0) {
          // the whole remaining graph was acyclic — all singletons,
          // handled by the final anti-join
          remainingEdges = 0
        } else {
          // (2) forward coloring (seeded with the closed
          // in-neighborhood min so the first superstep is pre-paid;
          // every vertex of the trimmed graph appears as both src and
          // dst, so the self-label union terms cover all of them).
          val fInit = e.select($"dst".as("v"), $"src".as("comp"))
            .union(e.select($"src".as("v"), $"src".as("comp")))
            .union(e.select($"dst".as("v"), $"dst".as("comp")))
            .groupBy($"v").agg(min($"comp").as("comp"))
          val colored = minLabelFixpoint(fInit, e)
          // (3) backward sweep over reversed same-color edges. A class
          // vertex with NO same-color edge is absent from the sweep —
          // it can sit in no multi-vertex SCC (those need same-color
          // cycle edges), so deferring it to the singleton anti-join
          // is exact.
          val cSrc = colored.select($"v".as("sv"), $"comp".as("scomp"))
          val cDst = colored.select($"v".as("dv"), $"comp".as("dcomp"))
          val eSame = e.join(stateSide(cSrc), $"src" === $"sv")
            .join(stateSide(cDst), $"dst" === $"dv")
            .where($"scomp" === $"dcomp")
            .select($"src", $"dst")
            .localCheckpoint(true)
          val eBack = eSame.select($"dst".as("src"), $"src".as("dst"))
          val bInit = eBack.select($"dst".as("v"), $"src".as("comp"))
            .union(eBack.select($"src".as("v"), $"src".as("comp")))
            .union(eBack.select($"dst".as("v"), $"dst".as("comp")))
            .groupBy($"v").agg(min($"comp").as("comp"))
          val back = minLabelFixpoint(bInit, eBack)
          val scc = colored
            .join(back.select($"v".as("bv"), $"comp".as("bcomp")),
              $"v" === $"bv")
            .where($"comp" === $"bcomp")
            .select($"v", $"comp".as("scc_id"))
            .localCheckpoint(true)
          found += scc
          // (4) next round's graph: SAME-COLOR edges minus extracted
          // vertices. An SCC never spans two color classes (anything
          // reaching one member reaches all), so cross-color edges can
          // never join a future SCC — dropping them here is the
          // coloring algorithm's recursion and lets every residual
          // class shrink independently in the next round, instead of
          // re-trimming the whole core graph.
          val (e3, ne3) = ckptObserving(
            eSame
              .join(stateSide(scc.select($"v".as("xv"))), $"src" === $"xv",
                "left_anti")
              .join(stateSide(scc.select($"v".as("yv"))), $"dst" === $"yv",
                "left_anti"),
            count(lit(1)))
          edges = e3
          remainingEdges = ne3.asInstanceOf[Long]
        }
      }
      // Round count is bounded by condensation-DAG depth per color
      // class — O(V) on a chain-of-cycles graph, so the cap IS
      // reachable on adversarial inputs. Undecided vertices still sit
      // in live edges; emitting them as singletons would be WRONG, so
      // fail loudly instead.
      if (remainingEdges > 0)
        throw new IllegalStateException(
          s"SCC did not converge within $maxRounds rounds " +
            s"($remainingEdges edges undecided; condensation depth " +
            "exceeds the cap); raise maxRounds")
      // Singletons — trimmed fringe, classless residue, acyclic
      // leftovers — never enter `found`: each keeps scc_id = v via ONE
      // anti-join against everything the rounds extracted.
      val allVerts = e0.select($"src".as("v"))
        .union(e0.select($"dst".as("v"))).distinct()
      val out =
        if (found.isEmpty) allVerts.select($"v", $"v".as("scc_id"))
        else {
          val multi = found.reduce(_ unionByName _)
          multi.unionByName(
            allVerts.join(multi.select($"v"), Seq("v"), "left_anti")
              .select($"v", $"v".as("scc_id")))
        }
      (out, rounds)
    }
  }

  /** q_iter_scc — strongly connected components of the DIRECTED
    * customer–supplier trade graph of 1997-01: a high-quantity line
    * (l_quantity > 25) points customer → supplier, a low-quantity line
    * points supplier → customer, so cycles arise whenever trade flows
    * both ways around a chain of customers and suppliers (supplier ids
    * offset by 1,000,000 as in q_iter_cc). Directedness is what
    * separates this from q_iter_cc: the weakly-connected answer here is
    * one giant blob, while the strong answer has a large cyclic core
    * plus an acyclic fringe the trim phase peels. Output: every vertex
    * with scc_id = min member of its SCC plus the SCC size, totally
    * ordered. */
  private def iterScc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-02-01").cast("timestamp"))
    val raw = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), ($"l_suppkey" + lit(1000000L)).as("s"),
        $"l_quantity".as("q"))
    val edges = raw.where($"q" > 25).select($"c".as("src"), $"s".as("dst"))
      .union(raw.where($"q" <= 25).select($"s".as("src"), $"c".as("dst")))
      .distinct()
    val (scc, _) = stronglyConnectedComponents(edges)
    val sizes = scc.groupBy($"scc_id").agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, "scc_id")
      .select($"v", $"scc_id", $"scc_size")
      .orderBy($"v")
  }

  /** Oracle: textbook quadratic spelling — transitive closure via
    * recursive CTE, scc_id(v) = min over the mutually-reachable set
    * (v itself included); the iterative coloring plan above is the one
    * that scales. CTE hygiene: inside a `WITH RECURSIVE` clause DuckDB
    * gives EVERY top-level `a UNION b` CTE body recursive-union
    * treatment, which skips the cross-arm dedup a plain UNION performs
    * — so the non-recursive set unions here are spelled
    * DISTINCT-over-UNION-ALL, keeping only `reach` genuinely
    * recursive. */
  private val iterSccSql = """
    WITH RECURSIVE
    raw AS (
      SELECT o_custkey AS c, l_suppkey + 1000000 AS s, l_quantity AS q
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-02-01 00:00:00'),
    e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT c AS src, s AS dst FROM raw WHERE q > 25
        UNION ALL
        SELECT s AS src, c AS dst FROM raw WHERE q <= 25)),
    verts AS (SELECT DISTINCT v FROM (
        SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
    reach(a, b) AS (
      SELECT src, dst FROM e
      UNION
      SELECT reach.a, e.dst FROM reach JOIN e ON reach.b = e.src),
    mutual AS (
      SELECT r1.a AS v, min(r1.b) AS mn
      FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
      GROUP BY r1.a),
    lab AS (
      SELECT verts.v, least(verts.v, coalesce(mutual.mn, verts.v)) AS scc_id
      FROM verts LEFT JOIN mutual ON verts.v = mutual.v),
    sizes AS (SELECT scc_id, count(*) AS scc_size FROM lab GROUP BY scc_id)
    SELECT v, lab.scc_id AS scc_id, scc_size
    FROM lab JOIN sizes USING (scc_id)
    ORDER BY v"""

  /** Synchronous label propagation (the Gelly LabelPropagation shape
    * [UPSTREAM `flink-libraries/flink-gelly/.../LabelPropagation.java`]):
    * each superstep every vertex adopts the most frequent label among
    * its DISTINCT neighbors, ties broken to the smallest label (the
    * deterministic tie order — Gelly's "select the minimum" rule). A
    * FIXED superstep count, not a convergence test: synchronous LPA can
    * 2-cycle forever on bipartite structure, so bounded supersteps are
    * the correct termination at any scale. Per superstep: one edge⋈label
    * join + two keyed aggregates (count per (v,label), argmax per v) —
    * all hash-partitioned by vertex; the argmax is max_by over a
    * (cnt, −label) struct, no per-vertex sort. Superstep outputs are
    * lineage-truncated like every loop in this module. Exposed for
    * LpaSpec. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    withIterConfs(spark) {
      val und = edges.select($"src", $"dst")
        .union(edges.select($"dst".as("src"), $"src".as("dst")))
        .distinct()
        .localCheckpoint()
      var labels = und.select($"src".as("v")).distinct()
        .select($"v", $"v".as("label"))
        .localCheckpoint()
      for (_ <- 1 to iters) {
        val msgs = und.join(stateSide(labels), $"src" === $"v")
          .select($"dst".as("v"), $"label")
        labels = msgs.groupBy($"v", $"label")
          .agg(count(lit(1)).as("cnt"))
          .groupBy($"v")
          .agg(max_by($"label", struct($"cnt", (-$"label").as("nl")))
            .as("label"))
          .localCheckpoint()
      }
      labels
    }
  }

  /** q_iter_lpa — community detection by label propagation on the
    * 1997-01 customer–supplier graph (same edge derivation as
    * q_iter_cc), 3 synchronous supersteps. Output: each vertex with its
    * label and the label's community size. */
  private def iterLpa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-02-01").cast("timestamp"))
    val edges = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + lit(1000000L)).as("dst"))
      .distinct()
    val labels = labelPropagation(edges, 3)
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("comm_size"))
    labels.join(sizes, "label")
      .select($"v", $"label", $"comm_size")
      .orderBy($"v")
  }

  /** Oracle: the 3 supersteps unrolled as chained CTEs — per step a
    * message join, a (v,label) count, and a rank-1 window with the
    * identical (cnt DESC, label ASC) tie order. */
  private val iterLpaSql = """
    WITH
    e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-02-01 00:00:00'),
    u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    l0 AS (SELECT DISTINCT src AS v, src AS label FROM u),
    c1 AS (SELECT u.dst AS v, l0.label, count(*) AS cnt
           FROM u JOIN l0 ON u.src = l0.v GROUP BY u.dst, l0.label),
    l1 AS (SELECT v, label FROM (
             SELECT v, label, row_number() OVER (PARTITION BY v
               ORDER BY cnt DESC, label) AS rn FROM c1) WHERE rn = 1),
    c2 AS (SELECT u.dst AS v, l1.label, count(*) AS cnt
           FROM u JOIN l1 ON u.src = l1.v GROUP BY u.dst, l1.label),
    l2 AS (SELECT v, label FROM (
             SELECT v, label, row_number() OVER (PARTITION BY v
               ORDER BY cnt DESC, label) AS rn FROM c2) WHERE rn = 1),
    c3 AS (SELECT u.dst AS v, l2.label, count(*) AS cnt
           FROM u JOIN l2 ON u.src = l2.v GROUP BY u.dst, l2.label),
    l3 AS (SELECT v, label FROM (
             SELECT v, label, row_number() OVER (PARTITION BY v
               ORDER BY cnt DESC, label) AS rn FROM c3) WHERE rn = 1),
    sizes AS (SELECT label, count(*) AS comm_size FROM l3 GROUP BY label)
    SELECT v, l3.label AS label, comm_size
    FROM l3 JOIN sizes USING (label)
    ORDER BY v"""

  /** q_stream_iterate — STREAMING ITERATION via the foreachBatch
    * feedback composition, converting the recorded
    * `DataStream.iterate` scope cut (§2.14b) from an absence into a
    * witnessed equivalent: Structured Streaming has no cyclic
    * dataflow, so the honest spelling is driver-held feedback state
    * threaded through `foreachBatch`. Each micro-batch of NEW edges is
    * CONTRACTED through the current labels (endpoint → its component
    * representative, a union-find `find`), CC re-converges on that
    * contracted batch-sized graph only, and the resulting rep→rep
    * merge map is applied back to the label state — so the per-batch
    * fixpoint runs over |batch| edges, never over the accumulated
    * vertex set (the earlier star-edge spelling re-ran CC over one
    * edge per KNOWN vertex per batch; r12 bench put that at 5.8 s,
    * the repo's most expensive query). Per batch the work is the
    * contracted CC plus two keyed joins against the label state —
    * the incremental property streaming iteration exists for. Final
    * labels must equal batch CC over ALL edges (same recursive-CTE
    * oracle as q_iter_cc), regardless of how the file stream batched
    * them. */
  private def streamIterate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stage = streamline.util.Scratch.staged("iterstream", dir) { root =>
      val month = Tables.orders(spark, dir)
        .where($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-02-01").cast("timestamp"))
      month.join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("src"),
          ($"l_suppkey" + lit(1000000L)).as("dst"))
        .distinct()
        .repartition(3) // three files -> three micro-batches
        .write.parquet(s"$root/in")
    } + "/in"
    val labels = feedbackCc(spark, stage)
    val sizes = labels.groupBy($"comp").agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, "comp")
      .select($"v", $"comp", $"comp_size")
      .orderBy($"v")
  }

  /** The foreachBatch feedback loop itself, factored out so
    * StreamIterateSpec can drive it over RANDOM batchings of the same
    * edge set: reads `(src, dst)` parquet files from `stage` one file
    * per micro-batch, contracts each batch through the current labels,
    * re-converges CC on the contracted graph, applies the merge map,
    * and returns the final `(v, comp)` table.
    *
    * Correctness of the contraction: component representatives are
    * component MINIMA, so the true minimum of any set of merged
    * components is the minimum over their representatives and the new
    * vertex ids — exactly what CC over the contracted graph computes.
    * Untouched components never appear in the merge map and keep their
    * label through the coalesce. */
  private[streamline] def feedbackCc(spark: SparkSession,
                                     stage: String): DataFrame = {
    import spark.implicits._
    streamline.stream.Streams.foldFiles[DataFrame](spark, stage,
        "src LONG, dst LONG") {
      case (None, batch) =>
        connectedComponents(batch)._1.localCheckpoint(true)
      case (Some(l), batch) =>
        // find(): contract both endpoints to their current rep.
        // At cluster scale these are two keyed joins of the (small)
        // batch against the label state — broadcast per the
        // iterBroadcast knob at bounded-vertex scale, plain keyed
        // shuffle joins in the web-graph regime.
        def find(col: String) = stateSide(
          l.select($"v".as(s"f_$col"), $"comp".as(s"fc_$col")))
        val contracted = batch
          .join(find("src"), $"src" === $"f_src", "left")
          .join(find("dst"), $"dst" === $"f_dst", "left")
          .select(coalesce($"fc_src", $"src").as("src"),
            coalesce($"fc_dst", $"dst").as("dst"))
        // CC over the contracted graph: vertices are touched reps +
        // genuinely new ids — batch-sized, NOT state-sized.
        val cc = connectedComponents(contracted)._1
        val merge = cc.select($"v".as("mv"), $"comp".as("mc"))
        // merge map is frontier-sized — broadcast it into the
        // relabel join; untouched components coalesce through.
        val relabeled = l.join(stateSide(merge), $"comp" === $"mv", "left")
          .select($"v", coalesce($"mc", $"comp").as("comp"))
        val fresh = cc.join(l.select($"v"), Seq("v"), "left_anti")
        relabeled.unionByName(fresh.select($"v", $"comp"))
          .localCheckpoint(true)
    }
  }

  // same fixed point as q_iter_cc: the stream's batching must not change
  // the answer, so the oracle IS the batch oracle.
  private val streamIterateSql = iterCcSql

  /** q_iter_hits — HITS hub/authority scores (Kleinberg) on the
    * 1997-03 customer→supplier bipartite purchase graph (the
    * q_iter_pagerank fixture, kept DIRECTED: customers are hubs,
    * suppliers authorities — "who are the broad buyers, who the
    * widely-bought suppliers"). 8 supersteps of the mutual
    * reinforcement a = Aᵀh, h = A·a in FIXED-POINT integer
    * arithmetic: scores are bigint 1e-12 units and each half-step
    * L1-NORMALIZES to Σ = SCALE via one integral division — L1
    * instead of the textbook L2 because it needs no square root,
    * preserves the eigenvector direction the iteration converges to,
    * and keeps every operation exact integer math (the pagerank
    * fixed-point trick; bit-identical on any partitioning, any
    * engine). Raw sums and the ×SCALE products ride DECIMAL(38)/
    * HUGEINT (deg·SCALE·SCALE ~ 10³⁰ at dictionary degree — far past
    * long). Each superstep: two keyed joins (state ⋈ edges) + two
    * keyed sums + two 1-row total broadcasts; state linear in
    * vertices, lineage truncated per half-step. */
  private def iterHits(spark: SparkSession, dir: String): DataFrame =
    withIterConfs(spark)(iterHitsImpl(spark, dir))

  private def iterHitsImpl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val SCALE = 1000000000000L
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-03-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-04-01").cast("timestamp"))
    val edges = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + lit(1000000L)).as("dst"))
      .distinct().persist()
    val hubs = edges.select($"src".as("v")).distinct()
    var h = hubs.crossJoin(broadcast(hubs.agg(count(lit(1)).as("nh"))))
      .select($"v", call_function("div", lit(SCALE), $"nh").as("s"))
      .localCheckpoint(true)
    var a: DataFrame = h // placeholder; overwritten in superstep 1
    // The L1 total of each raw half-step is OBSERVED during the raw
    // table's checkpoint materialization (the job already sums every
    // row) and re-enters the normalize select as a literal — the old
    // crossJoin(broadcast(agg)) spelling launched one extra aggregation
    // job per half-step (16 per query) purely to recompute that total.
    // Values are bit-identical: same sum over the same materialized
    // rows. Raw tables stay checkpointed for the same reason as before
    // (the next half-step's broadcast must build from a leaf, not
    // re-run the edge join).
    def normalized(raw: DataFrame, tot: Any): DataFrame = {
      val totLit = tot match {
        // empty graph: sum over zero rows observes null; raw has zero
        // rows so the divisor value is never read — any non-null
        // stand-in keeps the div expression type-resolvable.
        case null => lit(java.math.BigDecimal.ONE)
        case d: java.math.BigDecimal => lit(d)
        case other => lit(other.toString).cast("decimal(38,0)")
      }
      raw.select($"v",
        call_function("div", $"raw" * lit(SCALE), totLit).as("s"))
    }
    for (_ <- 1 to 8) {
      val (araw, atot) = ckptObserving(
        edges.join(stateSide(h), $"v" === $"src")
          .groupBy($"dst").agg(sum(d38($"s")).as("raw"))
          .select($"dst".as("v"), $"raw"),
        sum($"raw"))
      a = normalized(araw, atot)
      val (hraw, htot) = ckptObserving(
        edges.join(stateSide(a), $"v" === $"dst")
          .groupBy($"src").agg(sum(d38($"s")).as("raw"))
          .select($"src".as("v"), $"raw"),
        sum($"raw"))
      h = normalized(hraw, htot)
    }
    edges.unpersist()
    a.select(lit("auth").as("side"), $"v", $"s".as("score_fp"))
      .union(h.select(lit("hub").as("side"), $"v", $"s".as("score_fp")))
      .orderBy($"side", $"score_fp".desc, $"v")
  }

  /** Oracle: the same 8 integer L1-normalized rounds as chained CTEs.
    * Each round references its predecessor exactly ONCE (the
    * normalizing total is a window sum, not a scalar subquery — a
    * second reference would double the CTE tree per round: 4⁸
    * expansion, the q_iter_pagerank single-reference discipline). */
  private val iterHitsSql = {
    val rounds = (1 to 8).map { i =>
      val prev = if (i == 1) "h0" else s"h${i - 1}"
      s"""a$i AS (SELECT v, CAST((raw * 1000000000000::HUGEINT)
         |    // sum(raw) OVER () AS BIGINT) AS s
         |  FROM (SELECT e.dst AS v, sum(p.s)::HUGEINT AS raw
         |        FROM e JOIN $prev p ON p.v = e.src GROUP BY 1)),
         |h$i AS (SELECT v, CAST((raw * 1000000000000::HUGEINT)
         |    // sum(raw) OVER () AS BIGINT) AS s
         |  FROM (SELECT e.src AS v, sum(q.s)::HUGEINT AS raw
         |        FROM e JOIN a$i q ON q.v = e.dst GROUP BY 1))""".stripMargin
    }.mkString(",\n")
    s"""
    WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'),
    h0 AS (SELECT v, 1000000000000 // count(*) OVER () AS s
           FROM (SELECT DISTINCT src AS v FROM e)),
    $rounds
    SELECT 'auth' AS side, v, s AS score_fp FROM a8
    UNION ALL SELECT 'hub', v, s FROM h8
    ORDER BY side, score_fp DESC, v"""
  }

  /** q_iter_katz — Katz centrality on the directed 1997-03
    * customer→supplier purchase graph: x = Σ_k α^k·(Aᵀ)^k·1 — the
    * ATTENUATED-path-count centrality next to q_iter_pagerank's
    * random walk (no normalization pressure) and q_iter_hits' mutual
    * reinforcement (no bipartite split): every vertex starts with
    * β = 1 and receives α times its in-neighbors' scores, so long
    * chains still count, just geometrically less. α is set
    * DATA-DEPENDENTLY to 1/(2·d_max) (d_max = max in-degree), which
    * guarantees α·λ_max ≤ ½ < 1 — convergence without knowing the
    * spectrum — and keeps every step EXACT integer: scores in 1e-6
    * fixed point are bounded by β/(1−½) = 2·10⁶, so sums stay
    * long-safe at any scale, and the α-attenuation is ONE integral
    * division by 2·d_max (non-negative ⇒ truncate == floor on both
    * engines). 8 supersteps; each is one keyed state⋈edges join +
    * keyed sum + a 1-row d_max broadcast; state linear in vertices,
    * lineage truncated per step. */
  private def iterKatz(spark: SparkSession, dir: String): DataFrame =
    withIterConfs(spark)(iterKatzImpl(spark, dir))

  private def iterKatzImpl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val SCALE = 1000000L
    val month = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-03-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-04-01").cast("timestamp"))
    val edges = month
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + lit(1000000L)).as("dst"))
      .distinct().persist()
    // d_max is a loop-constant scalar: compute it ONCE and inline it as
    // a literal — the old crossJoin(broadcast(dmax)) spelling re-ran
    // the two-stage degree aggregation as a broadcast build inside
    // every superstep (8 extra jobs per query for one unchanging
    // number). Empty graph: max over zero rows is null; verts is empty
    // then too, so the divisor is never read — 1 keeps the expression
    // well-typed.
    val dmaxV = Option(edges.groupBy($"dst").agg(count(lit(1)).as("d"))
      .agg(max($"d").as("dmax")).head().get(0))
      .fold(1L)(_.asInstanceOf[Long])
    val verts = edges.select($"src".as("v"))
      .union(edges.select($"dst".as("v"))).distinct()
      .localCheckpoint(true) // every superstep's left join reads it
    var x = verts.select($"v", lit(SCALE).as("s")).localCheckpoint(true)
    for (_ <- 1 to 8) {
      val contrib = edges.join(stateSide(x), $"v" === $"src")
        .groupBy($"dst").agg(sum($"s").as("raw"))
        .select($"dst".as("v"), $"raw")
      x = verts.join(contrib, Seq("v"), "left")
        .select($"v", (lit(SCALE) + call_function("div",
          coalesce($"raw", lit(0L)), lit(2L * dmaxV))).as("s"))
        .localCheckpoint(true)
    }
    edges.unpersist()
    x.select($"v", $"s".as("katz_fp")).orderBy($"katz_fp".desc, $"v")
  }

  /** Oracle: the same 8 integer supersteps as chained CTEs, each
    * referencing its predecessor exactly once (the q_iter_hits
    * single-reference discipline); the flat `dm`/`verts` CTEs are
    * tiny re-inlined aggregates, not chained growth. */
  private val iterKatzSql = {
    val rounds = (1 to 8).map { i =>
      val prev = if (i == 1) "x0" else s"x${i - 1}"
      s"""x$i AS (SELECT t.v,
         |    CAST(1000000 + (coalesce(c.raw, 0) // (2 * dm.dmax))
         |      AS BIGINT) AS s
         |  FROM verts t CROSS JOIN dm
         |  LEFT JOIN (SELECT e.dst AS v, CAST(sum(p.s) AS BIGINT) AS raw
         |             FROM e JOIN $prev p ON p.v = e.src GROUP BY 1) c
         |    ON c.v = t.v)""".stripMargin
    }.mkString(",\n")
    s"""
    WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'),
    verts AS (SELECT DISTINCT src AS v FROM e
              UNION SELECT DISTINCT dst FROM e),
    dm AS (SELECT max(d) AS dmax FROM
             (SELECT CAST(count(*) AS BIGINT) AS d FROM e GROUP BY dst)),
    x0 AS (SELECT v, CAST(1000000 AS BIGINT) AS s FROM verts),
    $rounds
    SELECT v, s AS katz_fp FROM x8 ORDER BY katz_fp DESC, v"""
  }

  val all: Seq[Q] = Seq(
    Q("q_iter_katz", iterKatz _, iterKatzSql),
    Q("q_iter_hits", iterHits _, iterHitsSql),
    Q("q_stream_iterate", streamIterate _, streamIterateSql),
    Q("q_iter_lpa", iterLpa _, iterLpaSql),
    Q("q_iter_kcore", iterKcore _, iterKcoreSql),
    Q("q_iter_cc", iterCc _, iterCcSql),
    Q("q_iter_scc", iterScc _, iterSccSql),
    Q("q_iter_mis", iterMis _, iterMisSql),
    Q("q_iter_triangles", iterTriangles _, iterTrianglesSql),
    Q("q_iter_delta", iterDelta _, iterDeltaSql),
    Q("q_iter_pagerank", iterPagerank _, iterPagerankSql),
    Q("q_iter_sssp", iterSssp _, iterSsspSql))
}
