package streamline.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import streamline.{Q, Tables}

/** §2.13 SQL-string entry point.
  *
  * Half the reference lineage's API surface is SQL text (Flink Table
  * API / Calcite-parsed SQL; upstream `flink-table/.../api/Table.scala`,
  * batch lineage examples `flink-examples-batch/.../relational/
  * TPCHQuery3.java` and `TPCHQuery10.java`). The Spark-native
  * equivalent is `spark.sql(...)` over registered views of the pinned
  * tables — same Catalyst plans as the DataFrame API, so pushdown,
  * AQE, broadcast selection all apply identically. These two witnesses
  * are the TPC-H Q3/Q10 shapes those lineage examples implement,
  * adapted to the fixture schemas (no ship-priority / phone columns in
  * the generated tables).
  *
  * Determinism follows SURVEY.md §2.12 exactly as in the DataFrame
  * modules, just spelled in SQL: all money math in DECIMAL(18,4) with a
  * final DOUBLE cast, timestamps emitted as TIMESTAMP_NTZ, and the
  * ORDER BY extended with a unique key so LIMIT cuts identically in
  * both engines.
  *
  * Scale posture: Q3 is the classic 3-table star — customer filters
  * down then shuffles on custkey into orders, the result shuffles on
  * orderkey into lineitem, aggregation is keyed on (orderkey,
  * orderdate), and the top-10 is a TakeOrdered, never a full sort.
  * Q10 adds the 25-row nation dimension, which AQE broadcasts. Nothing
  * here changes at 100 TB: the date/segment filters push into the
  * parquet scans and every join is on a shuffle-partitioned key.
  */
object SqlApi {

  /** Register every pinned table as a temp view so the SQL text can
    * name them exactly as the oracle does. Re-registered per call:
    * the sf dir is a parameter, and view registration is a metadata
    * operation (no scan). */
  private[batch] def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    Tables.nation(spark, dir).createOrReplaceTempView("nation")
    Tables.region(spark, dir).createOrReplaceTempView("region")
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier")
    Tables.part(spark, dir).createOrReplaceTempView("part")
    Tables.events(spark, dir).createOrReplaceTempView("events")
    spark.sql(text)
  }

  // Shared money expression: exact decimal revenue, double on output
  // (identical IEEE value in both engines; Det.scala rationale).
  private val revenue =
    """CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
      |         * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)""".stripMargin

  /** q_sql_tpch3 — shipping-priority query shape (TPC-H Q3): unbilled
    * revenue of BUILDING-segment orders placed before / shipped after a
    * cut date, top 10 by revenue. */
  private def tpch3(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, s"""
      SELECT l_orderkey,
             $revenue AS revenue,
             CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate
      FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""")

  private val tpch3Sql = """
    SELECT l_orderkey,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
      o_orderdate
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10"""

  /** q_sql_tpch10 — returned-item reporting shape (TPC-H Q10): revenue
    * lost to returns per customer over a quarter, top 20, with the
    * nation dimension joined in. */
  private def tpch10(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, s"""
      SELECT c_custkey, c_name,
             $revenue AS revenue,
             c_acctbal, n_name, c_mktsegment
      FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""")

  private val tpch10Sql = """
    SELECT c_custkey, c_name,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
      c_acctbal, n_name, c_mktsegment
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20"""

  /** q_sql_tpch1 — pricing-summary report shape (TPC-H Q1): the
    * canonical full-scan keyed aggregate. All sums in exact decimal;
    * the averages are emitted as (exact-decimal sum → double) / count
    * so both engines divide bit-identical doubles. */
  private def tpch1(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, tpch1Text)

  private val tpch1Text = s"""
    SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        AS sum_base_price,
      $revenue AS sum_disc_price,
      CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))
                    AS DECIMAL(18,4))
               * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE)
        AS sum_charge,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        AS avg_qty,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** Oracle text differs from the Spark text in ONE way: the big
    * decimal sums cast to double THROUGH VARCHAR. DuckDB's direct
    * decimal→double cast double-rounds (1 ulp low) once the scaled
    * integer exceeds 2^53 (r2 lesson, seen live on sum_charge at
    * sf0.1); the string round-trip is a correctly-rounded parse that
    * matches Spark's BigDecimal.doubleValue. */
  private val tpch1OracleSql = s"""
    SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        AS sum_base_price,
      CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4))))
           AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l_discount AS DECIMAL(18,4)))
                         AS DECIMAL(18,4))
                    * (1 + CAST(l_tax AS DECIMAL(18,4))))
           AS VARCHAR) AS DOUBLE) AS sum_charge,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        AS avg_qty,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** q_sql_tpch18 — large-volume-customer shape (TPC-H Q18): an IN
    * subquery (planned as a left-semi join on the aggregated orderkey
    * set) feeding a 3-table join and a top-k. */
  private def tpch18(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, tpch18Text)

  private val tpch18Text = """
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate,
           o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             AS total_qty
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20"""

  private val tpch18Sql = """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20"""

  /** q_sql_tpch5 — local-supplier-volume shape (TPC-H Q5): the 6-table
    * join with the correlated locality condition (customer and supplier
    * in the SAME nation). The plan the optimizer should find: region →
    * nation broadcast chain prunes supplier/customer early; lineitem
    * shuffles once on orderkey. */
  private def tpch5(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, tpch5Text)

  private val tpch5Text = s"""
    SELECT n_name, $revenue AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

  /** q_sql_tpch11 — important-part-value shape (TPC-H Q11): a keyed
    * aggregate filtered against a SCALAR SUBQUERY over the same
    * aggregate (parts whose line count exceeds 1.3× the per-part
    * average). The global count+sum pair is ONE single-row CTE
    * cross-joined back in (a 1-row broadcast): spelling it as two
    * scalar subqueries planned the pc aggregate THREE times — three
    * full lineitem scans — where this shape scans once and reuses the
    * aggregate exchange. The threshold predicate is in pure BIGINT
    * arithmetic
    * (`10·n·|pc| > 13·Σn` ⟺ `n > 1.3·avg`) so the cut is bit-exact in
    * both engines — a decimal or double average would put boundary
    * rows at the mercy of each engine's scale-capping rules. The
    * revenue payload keeps the §2.12 decimal conventions. */
  private def tpch11(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, tpch11Text)

  private val tpch11Text = s"""
    WITH pc AS (
      SELECT l_partkey, count(*) AS n_lines, $revenue AS part_value
      FROM lineitem
      GROUP BY l_partkey),
    t AS (SELECT count(*) AS n_parts, sum(n_lines) AS tot_lines FROM pc)
    SELECT l_partkey AS partkey, n_lines, part_value
    FROM pc, t
    WHERE 10 * n_lines * n_parts > 13 * tot_lines
    ORDER BY n_lines DESC, partkey"""

  private val tpch11Sql = """
    WITH pc AS (
      SELECT l_partkey, count(*) AS n_lines,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4))))
             AS VARCHAR) AS DOUBLE) AS part_value
      FROM lineitem
      GROUP BY l_partkey),
    t AS (SELECT count(*) AS n_parts, sum(n_lines) AS tot_lines FROM pc)
    SELECT l_partkey AS partkey, n_lines, part_value
    FROM pc, t
    WHERE 10 * n_lines * n_parts > 13 * tot_lines
    ORDER BY n_lines DESC, partkey"""

  /** q_sql_tpch16 — supplier-count shape (TPC-H Q16): DISTINCT
    * aggregation over a join, with a null-aware NOT IN subquery that
    * Spark must plan as a null-aware anti join (here a broadcast: the
    * excluded supplier set is tiny at any scale). The part attribute
    * filters push into the part scan; lineitem supplies the
    * part–supplier pairs (the fixture ships no partsupp table). */
  private def tpch16(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, tpch16Text)

  private val tpch16Text = """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  /** q_sql_tpch22 — global-customer-relationship shape (TPC-H Q22):
    * a scalar-subquery threshold (balance above the positive-balance
    * mean) combined with a NOT EXISTS anti join against orders,
    * rolled up per nation. The mean comparison runs on exact integer
    * 10⁻⁴-units — `cents · |positive| > Σcents` — because a
    * decimal/double average's engine-specific rounding could flip
    * boundary customers; DECIMAL(18,4)×10⁴ is precision-exact
    * (DECIMAL(23,4)) in both engines before the BIGINT cast. The
    * count+sum threshold pair is one single-row CTE broadcast back in
    * (not two scalar subqueries — same triple-scan trap as Q11); the
    * anti join shuffles on custkey. */
  private def tpch22(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, tpch22Text)

  private val tpch22Text = """
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_acctbal,
        CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 10000 AS BIGINT)
          AS bal_e4
      FROM customer),
    t AS (SELECT count(*) AS n_pos, sum(bal_e4) AS tot_e4
          FROM c WHERE bal_e4 > 0)
    SELECT c_nationkey, count(*) AS numcust,
      CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        AS totacctbal
    FROM c, t
    WHERE bal_e4 * n_pos > tot_e4
      AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_nationkey
    ORDER BY c_nationkey"""

  /** q_sql_window — the Table API's windowed aggregate spelled in SQL
    * text (Flink `GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)`): Spark's
    * `window()` table function in a SQL string, batch semantics over
    * the same events table the streaming module windows incrementally.
    * Epoch-aligned 1-hour tumble ⇒ the oracle is date_trunc. */
  private def sqlWindow(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, """
      SELECT CAST(window.start AS TIMESTAMP_NTZ) AS w_start, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
      FROM events
      GROUP BY window(ts, '1 hour'), event_type
      ORDER BY w_start, event_type""")

  private val sqlWindowSql = """
    SELECT date_trunc('hour', ts) AS w_start, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM events
    GROUP BY 1, 2
    ORDER BY w_start, event_type"""

  /** q_sql_window_hop — the HOP (sliding) group window spelled in SQL
    * text (Flink SQL `GROUP BY HOP(ts, INTERVAL '6' HOUR, INTERVAL '1'
    * DAY)`): Spark's `window()` TVF with a slide — 1-day windows every
    * 6 hours, so each event lands in 4 overlapping windows. The
    * DataFrame spelling is witnessed by q_stream_slide; this is the
    * SQL-text twin, batch semantics (no watermark cut). The oracle
    * expands the 4 slide offsets explicitly.
    *
    * Scale note: the TVF expands BEFORE aggregating (4× the shuffle
    * rows — that is what the SQL surface does). When window/slide is
    * large, pre-aggregate at slide granularity and merge slices into
    * windows instead — the FLIP-145 slice-sharing composition
    * q_sql_window_cumulate demonstrates; the map-side partial
    * aggregation already absorbs most of the 4× here. */
  private def sqlWindowHop(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, """
      SELECT CAST(window.start AS TIMESTAMP_NTZ) AS w_start,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
      FROM events
      GROUP BY window(ts, '1 day', '6 hours')
      ORDER BY w_start""")

  private val sqlWindowHopSql = """
    WITH b AS (SELECT CAST(to_timestamp(floor(epoch(ts)/21600)*21600)
                 AS TIMESTAMP) AS b6, value FROM events),
    w AS (SELECT b6 - (j * INTERVAL 6 HOUR) AS w_start, value
          FROM b CROSS JOIN (SELECT unnest([0,1,2,3]) AS j))
    SELECT w_start, count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
    FROM w GROUP BY w_start
    ORDER BY w_start"""

  /** q_sql_window_session — the SESSION group window in SQL text
    * (Flink SQL `GROUP BY SESSION(ts, INTERVAL '30' MINUTE)`): Spark's
    * `session_window()` TVF — per-user sessions split at >30-minute
    * gaps, batch semantics (every session emits; the streaming twin
    * q_stream_session adds the watermark cut). Second-truncated input
    * in both engines so the ns/µs precision mismatch can't split a
    * session (SURVEY.md §2.12.3). */
  private def sqlWindowSession(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, """
      SELECT user_id,
             CAST(session_window.start AS TIMESTAMP_NTZ) AS s_start,
             CAST(session_window.end AS TIMESTAMP_NTZ) AS s_end,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
      FROM (SELECT user_id, date_trunc('second', ts) AS tss, value
            FROM events)
      GROUP BY session_window(tss, '30 minutes'), user_id
      ORDER BY user_id, s_start""")

  /** q_sql_match — MATCH_RECOGNIZE-shaped pattern matching from the
    * SQL-text entry (Flink 1.7 SQL `MATCH_RECOGNIZE (PATTERN (A+ B)
    * DEFINE …)`): Spark has no MATCH_RECOGNIZE clause, so the same
    * match language as q_cep_kleene (`click+ purchase within 10 min`,
    * greedy, non-overlapping) is composed in plain SQL text — click
    * islands via the row_number-difference trick, the run's purchase
    * at island-end + 1, the within filter over the whole match. Same
    * result as the NFA scan by construction; the island aggregation
    * and join are keyed shuffles on user_id, no window without a
    * partition key. The DataFrame NFA (batch/Cep.scala) remains the
    * scale path — this witnesses the SQL-entry spelling. */
  private def sqlMatch(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, """
      WITH o AS (SELECT user_id, event_id, event_type, ts,
              row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS rn
            FROM events),
      isl AS (SELECT user_id, event_id, ts, rn,
                rn - row_number() OVER (PARTITION BY user_id
                                        ORDER BY rn) AS grp
              FROM o WHERE event_type = 'click'),
      runs AS (SELECT user_id, grp, count(*) AS n_clicks,
                 min(ts) AS first_click_ts,
                 min_by(event_id, rn) AS first_click_id,
                 max(rn) AS end_rn
               FROM isl GROUP BY user_id, grp),
      p AS (SELECT user_id, event_id, ts, rn FROM o
            WHERE event_type = 'purchase')
      SELECT r.user_id AS user_id, n_clicks, first_click_id,
        p.event_id AS purchase_id,
        CAST(date_trunc('second', first_click_ts) AS TIMESTAMP_NTZ)
          AS first_click_ts,
        CAST(date_trunc('second', p.ts) AS TIMESTAMP_NTZ) AS purchase_ts
      FROM runs r JOIN p
        ON r.user_id = p.user_id AND p.rn = r.end_rn + 1
      WHERE p.ts <= first_click_ts + INTERVAL 10 MINUTE
      ORDER BY user_id, purchase_id""")

  /** q_sql_window_cumulate — the CUMULATE window TVF in SQL text
    * (Flink SQL `GROUP BY CUMULATE(ts, INTERVAL '6' HOUR, INTERVAL '1'
    * DAY)`): expanding windows sharing a day start — [d, d+6h),
    * [d, d+12h), [d, d+18h), [d, d+24h). Spark has no CUMULATE TVF, so
    * the query composes it the way the upstream runtime executes it
    * (FLIP-145 slice sharing, same design as q_stream_cumulate): one
    * aggregate at the 6-hour slice granularity, then each slice fans
    * into the expanding windows it contributes to (slice i of the day
    * → windows k = i..3) and merges — the heavy aggregation happens
    * ONCE per slice, the fan-out is slice-count-sized. */
  private def sqlWindowCumulate(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, """
      WITH s AS (
        SELECT window(ts, '6 hours') AS w, count(*) AS n,
               sum(CAST(value AS DECIMAL(18,4))) AS sv
        FROM events GROUP BY window(ts, '6 hours')),
      x AS (SELECT date_trunc('DAY', w.start) AS d,
                   hour(w.start) div 6 AS i, n, sv
            FROM s)
      SELECT CAST(d AS TIMESTAMP_NTZ) AS w_start,
             CAST(d + (k + 1) * INTERVAL '6' HOUR AS TIMESTAMP_NTZ)
               AS w_end,
             sum(n) AS n, CAST(sum(sv) AS DOUBLE) AS sum_val
      FROM x LATERAL VIEW explode(array(0, 1, 2, 3)) t AS k
      WHERE k >= i
      GROUP BY d, k ORDER BY w_start, w_end""")

  private val sqlWindowCumulateSql = """
    WITH b AS (SELECT CAST(to_timestamp(floor(epoch(ts)/21600)*21600)
                 AS TIMESTAMP) AS s_start, value FROM events),
    x AS (SELECT date_trunc('day', s_start) AS d,
            CAST(hour(s_start) // 6 AS INT) AS i,
            CAST(value AS DECIMAL(18,4)) AS v
          FROM b),
    f AS (SELECT d, j AS k, v
          FROM x CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)
          WHERE j >= i)
    SELECT d AS w_start, d + (k + 1) * INTERVAL 6 HOUR AS w_end,
      count(*) AS n, CAST(sum(v) AS DOUBLE) AS sum_val
    FROM f GROUP BY d, k ORDER BY w_start, w_end"""

  /** q_sql_ddl — the SQL WRITE path (Table API `CREATE TABLE` /
    * `INSERT INTO` DDL/DML, Calcite-parsed in the lineage): create a
    * parquet-backed table at an explicit location, INSERT INTO it from
    * a SELECT, and read it back through the catalog name. Overwrite
    * mode keeps the query idempotent across harness runs. */
  private def sqlDdl(spark: SparkSession, dir: String): DataFrame = {
    val loc = streamline.util.Scratch.dir("sqlddl", dir)
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    spark.sql("DROP TABLE IF EXISTS graft_seg_summary")
    spark.sql(s"""
      CREATE TABLE graft_seg_summary (
        c_mktsegment STRING, n_cust BIGINT, avg_bal DOUBLE)
      USING parquet LOCATION '$loc'""")
    spark.sql("""
      INSERT OVERWRITE graft_seg_summary
      SELECT c_mktsegment, count(*) AS n_cust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
          AS avg_bal
      FROM customer GROUP BY c_mktsegment""")
    spark.sql("""
      SELECT c_mktsegment, n_cust, avg_bal FROM graft_seg_summary
      ORDER BY c_mktsegment""")
  }

  private val sqlDdlSql = """
    SELECT c_mktsegment, count(*) AS n_cust,
      CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        AS avg_bal
    FROM customer GROUP BY c_mktsegment
    ORDER BY c_mktsegment"""

  /** q_sql_variable — SQL session variables (Spark 4 `DECLARE` /
    * `SET VARIABLE`): typed scalars declared in the session, set by
    * a query over the data (the "computed threshold" pattern scripts
    * use instead of string-splicing), then referenced by name inside
    * a later query. The threshold (the global mean balance) travels
    * as its EXACT (Σcents, n) integer pair and the filter is the
    * integer cross-multiplication cents·n > Σ — a stored
    * DECIMAL(18,4) mean rounds the quotient on assignment, and a
    * balance landing within 5e-5 of a grid point would then flip
    * rows between engines (ADVICE r15); the multiply carries in
    * DECIMAL(38)/HUGEINT past the ~10¹²-customer long cliff. Oracle
    * inlines the same subquery — the variables are pure session
    * plumbing, the relational semantics are identical. */
  private def sqlVariable(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_bal_sum_cents BIGINT")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_bal_n BIGINT")
    spark.sql("""
      SET VARIABLE (graft_bal_sum_cents, graft_bal_n) =
        (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)), count(*)
         FROM customer)""")
    spark.sql("""
      SELECT c_mktsegment, count(*) AS n_above,
        CAST(min(c_custkey) AS BIGINT) AS first_cust
      FROM customer
      WHERE CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DECIMAL(38,0))
          * graft_bal_n > graft_bal_sum_cents
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  private val sqlVariableSql = """
    WITH t AS (SELECT
        CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
        CAST(count(*) AS BIGINT) AS n FROM customer)
    SELECT c_mktsegment, count(*) AS n_above,
      CAST(min(c_custkey) AS BIGINT) AS first_cust
    FROM customer, t
    WHERE CAST(round(c_acctbal * 100) AS BIGINT)::HUGEINT * t.n > t.s
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** q_sql_script — SQL SCRIPTING (Spark 4.1 compound statements,
    * SQL/PSM): a BEGIN…END block with local variables and a
    * DATA-DRIVEN `WHILE` loop — the stored-procedure-style control
    * flow migration scripts and threshold searches use without
    * leaving SQL. The script doubles a balance floor until fewer than
    * a quarter of customers sit above it (each iteration re-queries
    * the data), then reports the surviving segment counts. Exactness:
    * the floor walks exact powers of two (double·2 is exact) and the
    * loop's count predicate is integer, so the terminating floor is a
    * pure function of the data; the oracle replays the loop in CLOSED
    * FORM (min power of two with count < limit over a 21-power spine
    * — valid because the count is monotone non-increasing in the
    * floor). Scale: each iteration is one map-side-combined count;
    * iterations ≤ log₂(max balance) ≈ 14 — control flow is
    * metadata-scale, data passes stay declarative. The scripting conf
    * is enabled for the block and restored exception-safe. */
  private def sqlScript(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    SkewJoin.withConfs(spark, Seq("spark.sql.scripting.enabled" -> "true")) {
      spark.sql("""
      BEGIN
        DECLARE floor_bal DOUBLE DEFAULT 1.0;
        DECLARE lim BIGINT;
        -- lim >= 1: with lim = 0 (under 4 customers) count >= 0 holds
        -- forever and the loop would never terminate (r16 review)
        SET lim = (SELECT greatest(CAST(count(*) / 4 AS BIGINT), 1)
                   FROM customer);
        WHILE (SELECT count(*) FROM customer WHERE c_acctbal > floor_bal)
              >= lim DO
          SET floor_bal = floor_bal * 2;
        END WHILE;
        SELECT c_mktsegment, count(*) AS n_above, floor_bal AS floor_bal
        FROM customer WHERE c_acctbal > floor_bal
        GROUP BY c_mktsegment ORDER BY c_mktsegment;
      END""")
    }
  }

  private val sqlScriptSql = """
    WITH n AS (SELECT greatest(CAST(count(*) // 4 AS BIGINT), 1) AS lim
               FROM customer),
    p AS (SELECT power(2, k) AS f FROM generate_series(0, 20) AS t(k)),
    pick AS (SELECT min(f) AS floor_bal FROM p, n
             WHERE (SELECT count(*) FROM customer c
                    WHERE c.c_acctbal > p.f) < n.lim)
    SELECT c_mktsegment, count(*) AS n_above, pick.floor_bal
    FROM customer, pick WHERE c_acctbal > pick.floor_bal
    GROUP BY 1, 3 ORDER BY 1"""

  /** q_sql_exec_immediate — dynamic SQL with bound parameters (Spark 4
    * `EXECUTE IMMEDIATE ... USING`): the query TEXT lives in a session
    * variable and positional `?` markers bind values at execution —
    * the injection-safe form of generated SQL (vs string splicing).
    * Oracle is the same statement with literals substituted. */
  private def sqlExecImmediate(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.nation(spark, dir).createOrReplaceTempView("nation")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_dyn_q STRING")
    spark.sql("""
      SET VARIABLE graft_dyn_q =
        'SELECT n.n_name AS nation, count(*) AS n_cust
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE c.c_acctbal BETWEEN ? AND ?
         GROUP BY n.n_name ORDER BY n.n_name'""")
    spark.sql("EXECUTE IMMEDIATE graft_dyn_q USING 0.0, 5000.0")
  }

  private val sqlExecImmediateSql = """
    SELECT n.n_name AS nation, count(*) AS n_cust
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal BETWEEN 0.0 AND 5000.0
    GROUP BY n.n_name ORDER BY n.n_name"""

  /** q_sql_identifier — parameterized table/column names via the
    * `IDENTIFIER()` clause + named parameter markers (Spark 4): the
    * safe way templated jobs vary the table and the measure column
    * without string-splicing SQL (names resolve through the parser,
    * so `'customer; DROP ...'` cannot parse as anything but a name).
    * Oracle is the resolved static query. */
  private def sqlIdentifier(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    spark.sql(
      """SELECT c_mktsegment,
           CAST(sum(CAST(IDENTIFIER(:col) AS DECIMAL(18,4))) AS DOUBLE)
             AS total,
           count(*) AS n
         FROM IDENTIFIER(:tbl)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      Map("tbl" -> "customer", "col" -> "c_acctbal"))
  }

  private val sqlIdentifierSql = """
    SELECT c_mktsegment,
      CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total,
      count(*) AS n
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** q_sql_udf — a Scala function registered into the SQL namespace and
    * called from SQL TEXT (the lineage's ScalarFunction registration,
    * `tableEnv.registerFunction`): the other half of the UDF surface
    * next to the DataFrame-side q_udf_scalar. */
  private def sqlUdf(spark: SparkSession, dir: String): DataFrame = {
    spark.udf.register("graft_disc_price",
      (ep: java.math.BigDecimal, d: java.math.BigDecimal) =>
        ep.multiply(java.math.BigDecimal.ONE.subtract(d)))
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql("""
      SELECT l_orderkey,
        CAST(sum(graft_disc_price(CAST(l_extendedprice AS DECIMAL(18,4)),
                                  CAST(l_discount AS DECIMAL(18,4))))
             AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate > TIMESTAMP '1998-08-01 00:00:00'
      GROUP BY l_orderkey
      ORDER BY l_orderkey
      LIMIT 100""")
  }

  private val sqlUdfSql = """
    SELECT l_orderkey,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
        AS revenue
    FROM lineitem
    WHERE l_shipdate > TIMESTAMP '1998-08-01 00:00:00'
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    LIMIT 100"""

  /** q_sql_exists — correlated EXISTS / NOT EXISTS subqueries (TPC-H Q4
    * order-priority-checking shape, adapted to the fixture columns:
    * "a lineitem shipped more than 60 days after the order date" stands
    * in for commit<receipt). Catalyst decorrelates EXISTS into a LEFT
    * SEMI and NOT EXISTS into a LEFT ANTI join on l_orderkey — keyed
    * shuffles, no nested-loop re-execution per outer row, which is what
    * makes the subquery form safe at 100 TB (SqlPlanSpec pins it). */
  private def sqlExists(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, sqlExistsText)

  private val sqlExistsText = """
    SELECT o_orderpriority, count(*) AS n_late
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** q_sql_lateral — correlated LATERAL subquery (Table API's lateral /
    * Calcite CORRELATE): per-nation top-2 suppliers by account balance.
    * Catalyst decorrelates the LIMIT-inside-LATERAL into a partitioned
    * window rank — one shuffle on the correlation key, never a per-row
    * subquery execution. Unique s_suppkey breaks acctbal ties so the
    * top-2 cut is identical in both engines (§2.12). */
  private def sqlLateral(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, sqlLateralText)

  private val sqlLateralText = """
    SELECT n_name, s_name, s_acctbal
    FROM nation,
      LATERAL (SELECT s_name, s_acctbal, s_suppkey FROM supplier
               WHERE s_nationkey = n_nationkey
               ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) top2
    ORDER BY n_name, s_acctbal DESC, s_suppkey"""

  /** q_sql_hint — join-strategy hints in SQL text (Calcite/Table API
    * query hints; Spark's SHUFFLE_MERGE / BROADCAST / SHUFFLE_HASH).
    * The hint is the user-facing scale lever when statistics mislead
    * the planner: here SHUFFLE_MERGE forces a sort-merge join where the
    * optimizer would broadcast the small customer side — the choice a
    * user makes when the "small" side is small per-statistics but large
    * at runtime. Hints never change semantics, only the physical plan
    * (SqlPlanSpec asserts SortMergeJoin; the oracle is the same query,
    * unhinted). */
  private def sqlHint(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, """
      SELECT /*+ SHUFFLE_MERGE(customer) */ c_mktsegment,
        count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")

  private val sqlHintSql = """
    SELECT c_mktsegment, count(*) AS n_orders,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment"""

  /** q_sql_recursive — recursive CTE (`WITH RECURSIVE`), the SQL-text
    * spelling of the iterative surface (batch/Iterate.scala is the
    * DataFrame spelling): depth-bounded BFS from the smallest customer
    * in the 1997-01 order graph, emitting each reachable vertex with
    * its minimum hop count. Spark executes the recursion as an
    * iterative union-loop over the same keyed join a hand-written
    * superstep loop would run — every iteration is a distributed plan,
    * the driver only tracks convergence/depth. The hop bound (< 3)
    * keeps the path expansion polynomial; production unbounded
    * reachability belongs to the delta-iteration form (q_iter_delta),
    * which shuffles only the frontier. */
  private def sqlRecursive(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // Materialize the undirected edge table ONCE before the recursion:
    // a CTE referenced inside the recursive member is inlined into
    // every iteration, so the orders⋈lineitem join would re-run per
    // hop (measured 5.2 s → ~2 s at sf0.1). The recursion itself stays
    // pure SQL over the registered view — the same "cache the iterated
    // relation" move Iterate.fixpoint makes with localCheckpoint.
    val spark2 = spark; import spark2.implicits._
    val e = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-02-01").cast("timestamp"))
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("src"),
        ($"l_suppkey" + lit(1000000L)).as("dst"))
      .distinct()
    e.select($"src", $"dst")
      .union(e.select($"dst".as("src"), $"src".as("dst")))
      .localCheckpoint(true)
      .createOrReplaceTempView("u_edges")
    spark.sql("""
      WITH RECURSIVE reach AS (
        SELECT min(src) AS v, 0 AS lvl FROM u_edges
        UNION ALL
        SELECT u.dst AS v, lvl + 1 AS lvl
        FROM reach JOIN u_edges u ON u.src = reach.v
        WHERE lvl < 3)
      SELECT v, min(lvl) AS lvl
      FROM reach GROUP BY v ORDER BY v""")
  }

  // Oracle: identical recursion with the edge table spelled inline
  // (min(src) over the undirected set = the smallest customer key,
  // since supplier ids are offset by 1e6).
  private val sqlRecursiveText = """
    WITH RECURSIVE e AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-02-01 00:00:00'),
    u AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    reach AS (
      SELECT min(src) AS v, 0 AS lvl FROM u
      UNION ALL
      SELECT u.dst AS v, lvl + 1 AS lvl
      FROM reach JOIN u ON u.src = reach.v
      WHERE lvl < 3)
    SELECT v, min(lvl) AS lvl
    FROM reach GROUP BY v ORDER BY v"""

  /** q_sql_pivot — PIVOT in SQL text (the Table API-era "columnize a
    * dimension" analytics op): per user cohort, event counts spread
    * into one column per event type. Spark's PIVOT clause plans to a
    * single keyed aggregate with one conditional-count column per IN
    * value — exactly the CASE/FILTER aggregation the oracle spells —
    * so there is one shuffle on the group key and the pivoted column
    * set is fixed at plan time (the IN list is mandatory; no
    * data-dependent schema at 100 TB). count(*) over an absent combo
    * is NULL in the SQL-standard pivot, coalesced to 0 in both
    * engines. */
  private def sqlPivot(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, """
      SELECT cohort,
        coalesce(click, 0) AS click, coalesce(view, 0) AS view,
        coalesce(purchase, 0) AS purchase, coalesce(signup, 0) AS signup,
        coalesce(error, 0) AS error
      FROM (SELECT user_id % 100 AS cohort, event_type FROM events)
      PIVOT (count(*) FOR event_type
             IN ('click' AS click, 'view' AS view, 'purchase' AS purchase,
                 'signup' AS signup, 'error' AS error))
      ORDER BY cohort""")

  private val sqlPivotSql = """
    SELECT user_id % 100 AS cohort,
      count(*) FILTER (WHERE event_type = 'click') AS click,
      count(*) FILTER (WHERE event_type = 'view') AS view,
      count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      count(*) FILTER (WHERE event_type = 'signup') AS signup,
      count(*) FILTER (WHERE event_type = 'error') AS error
    FROM events GROUP BY cohort ORDER BY cohort"""

  /** q_sql_offset — LIMIT/OFFSET pagination (Spark 3.4+): page 3 of
    * the supplier list under a total order. Spark plans a global
    * TakeOrdered of limit+offset then drops the prefix — constant
    * driver memory; deep pagination at 100 TB belongs to keyset
    * pagination (WHERE key > last_seen), which q_filter's pushdown
    * shape already witnesses. */
  private def sqlOffset(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, sqlOffsetSql)

  private val sqlOffsetSql = """
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier ORDER BY s_acctbal DESC, s_suppkey
    LIMIT 10 OFFSET 20"""

  /** q_sql_stats — the cost-based-optimizer witness (the reference
    * lineage's batch optimizer is cost-based; Flink 1.x
    * `flink-optimizer/.../costs/CostEstimator.java` [UPSTREAM],
    * SURVEY.md §2.13): `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL
    * COLUMNS` populates catalog row/column stats, and with
    * `spark.sql.cbo.enabled` + `joinReorder.enabled` Catalyst's
    * CostBasedJoinReorder re-orders the deliberately mis-written
    * 3-table join below from its textual left-deep order
    * (lineitem⋈orders first — the 4×-larger intermediate) to the
    * stats-cheap order (orders⋈filtered-customer first). The flip is
    * pinned by SqlPlanSpec; the oracle runs the semantically identical
    * unhinted SQL — reorder must be invisible in the result.
    *
    * Catalog tables (not temp views) carry the stats; they are
    * registered zero-copy with LOCATION pointing at the fixture
    * parquet, and ANALYZE is re-run once per (session, sf dir) — a
    * metadata-sized scan of three small-to-mid tables. At 100 TB this
    * is the nightly ANALYZE every warehouse already runs; CBO then
    * prices every join order from those stats instead of trusting
    * query text. */
  val cboConfs: Seq[(String, String)] = Seq(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")

  @volatile private var statsFor: String = ""

  /** Register graft_s_{lineitem,orders,customer} catalog tables over
    * the fixture parquet and compute full column stats. Exposed for
    * SqlPlanSpec. */
  def statsTables(spark: SparkSession, dir: String): Unit = {
    if (statsFor == dir && spark.catalog.tableExists("graft_s_orders"))
      return
    // Stats only for the columns the optimizer prices here — the join
    // keys and the filter column (+ rowCount/size, which ANALYZE always
    // records). FOR ALL COLUMNS would scan ndv/min/max for every column
    // of lineitem (measured 3x the query cost at sf0.1); the nightly
    // ANALYZE at 100 TB is likewise scoped to queried columns.
    def reg(name: String, file: String, schemaDdl: String,
            statCols: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"""CREATE TABLE $name ($schemaDdl) USING parquet
        LOCATION '$dir/$file'""")
      spark.sql(
        s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS $statCols")
    }
    reg("graft_s_lineitem", "lineitem.parquet",
      Tables.lineitemSchema.toDDL, "l_orderkey")
    reg("graft_s_orders", "orders.parquet", Tables.ordersSchema.toDDL,
      "o_orderkey, o_custkey")
    reg("graft_s_customer", "customer.parquet",
      Tables.customerSchema.toDDL, "c_custkey, c_mktsegment")
    statsFor = dir
  }

  /** The mis-ordered join text over the stats-bearing tables; shared
    * with SqlPlanSpec so the spec pins exactly the shipped shape. */
  val statsQueryText: String = """
    SELECT o_orderpriority, count(*) AS n_rows,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        AS sum_price
    FROM graft_s_lineitem
    JOIN graft_s_orders ON l_orderkey = o_orderkey
    JOIN graft_s_customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  private def sqlStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    statsTables(spark, dir)
    SkewJoin.withConfs(spark, cboConfs) {
      spark.sql(statsQueryText).localCheckpoint(true)
    }.orderBy(col("o_orderpriority"))
  }

  private val sqlStatsSql = """
    SELECT o_orderpriority, count(*) AS n_rows,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        AS sum_price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** q_sql_unpivot — UNPIVOT in SQL text (Spark 3.4+): the inverse of
    * q_sql_pivot, melting a wide per-cohort metrics row back into
    * (cohort, metric, n) tuples. Planned as an Expand over the wide
    * aggregate — 3 output rows per input row, produced map-side with no
    * extra shuffle beyond the aggregate's own; at 100 TB the wide
    * aggregate (|cohorts| rows) is the only state. The oracle spells
    * the same melt as a UNION ALL stack, the dialect-neutral form. */
  private def sqlUnpivot(spark: SparkSession, dir: String): DataFrame =
    sql(spark, dir, """
      WITH w AS (
        SELECT user_id % 10 AS cohort,
          count(*) FILTER (WHERE event_type = 'click') AS click,
          count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
          count(*) FILTER (WHERE event_type = 'view') AS view
        FROM events GROUP BY user_id % 10)
      SELECT cohort, metric, n
      FROM w UNPIVOT (n FOR metric IN (click, purchase, view))
      ORDER BY cohort, metric""")

  private val sqlUnpivotSql = """
    WITH w AS (
      SELECT user_id % 10 AS cohort,
        count(*) FILTER (WHERE event_type = 'click') AS click,
        count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        count(*) FILTER (WHERE event_type = 'view') AS view
      FROM events GROUP BY user_id % 10)
    SELECT cohort, metric, n FROM (
      SELECT cohort, 'click' AS metric, click AS n FROM w
      UNION ALL SELECT cohort, 'purchase', purchase FROM w
      UNION ALL SELECT cohort, 'view', view FROM w)
    ORDER BY cohort, metric"""

  /** q_sql_groupby_all — GROUP BY ALL: every non-aggregate select item
    * becomes a grouping key implicitly (the modern-warehouse dialect
    * convergence both engines share). Same text runs verbatim on Spark
    * and DuckDB — the witness IS the dialect agreement, including that
    * a derived expression (the year) groups correctly. */
  private val sqlGroupByAllText = """
    SELECT o_orderstatus, year(o_orderdate) AS o_year, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY ALL
    ORDER BY o_orderstatus, o_year"""

  private def sqlGroupByAll(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    sql(spark, dir, sqlGroupByAllText)
      .withColumn("o_year", col("o_year").cast("long"))
  }

  val all: Seq[Q] = Seq(
    Q("q_sql_groupby_all", sqlGroupByAll _, sqlGroupByAllText),
    Q("q_sql_unpivot", sqlUnpivot _, sqlUnpivotSql),
    Q("q_sql_stats", sqlStats _, sqlStatsSql),
    Q("q_sql_recursive", sqlRecursive _, sqlRecursiveText),
    Q("q_sql_pivot", sqlPivot _, sqlPivotSql),
    Q("q_sql_offset", sqlOffset _, sqlOffsetSql),
    Q("q_sql_hint", sqlHint _, sqlHintSql),
    Q("q_sql_exists", sqlExists _, sqlExistsText),
    Q("q_sql_lateral", sqlLateral _, sqlLateralText),
    Q("q_sql_ddl", sqlDdl _, sqlDdlSql),
    Q("q_sql_variable", sqlVariable _, sqlVariableSql),
    Q("q_sql_exec_immediate", sqlExecImmediate _, sqlExecImmediateSql),
    Q("q_sql_script", sqlScript _, sqlScriptSql),
    Q("q_sql_identifier", sqlIdentifier _, sqlIdentifierSql),
    Q("q_sql_udf", sqlUdf _, sqlUdfSql),
    Q("q_sql_tpch3", tpch3 _, tpch3Sql),
    Q("q_sql_tpch10", tpch10 _, tpch10Sql),
    Q("q_sql_tpch1", tpch1 _, tpch1OracleSql),
    Q("q_sql_tpch18", tpch18 _, tpch18Sql),
    Q("q_sql_tpch5", tpch5 _, tpch5Text),
    Q("q_sql_tpch11", tpch11 _, tpch11Sql),
    Q("q_sql_tpch16", tpch16 _, tpch16Text),
    Q("q_sql_tpch22", tpch22 _, tpch22Text),
    Q("q_sql_window", sqlWindow _, sqlWindowSql),
    Q("q_sql_window_hop", sqlWindowHop _, sqlWindowHopSql),
    Q("q_sql_window_session", sqlWindowSession _, Windows.winSessionSql),
    Q("q_sql_window_cumulate", sqlWindowCumulate _, sqlWindowCumulateSql),
    // oracle shared with q_cep_kleene: same match language by design
    Q("q_sql_match", sqlMatch _, Cep.cepKleeneSql))
}
