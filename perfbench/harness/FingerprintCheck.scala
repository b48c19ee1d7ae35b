package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Self-test of [[Harness.fingerprint]]'s canonicalization, run by
  * `perfbench/tests/test_fingerprint.py`. Prints one line per failed
  * case and exits 1 if any failed. */
object FingerprintCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def fp(sql: String): String = Harness.fingerprint(spark.sql(sql))._2
    def df(sql: String): DataFrame = spark.sql(sql)
    var failed = 0
    def same(what: String, a: String, b: String): Unit =
      if (fp(a) != fp(b)) { failed += 1; println(s"FAIL same: $what") }
    def differ(what: String, a: String, b: String): Unit =
      if (fp(a) == fp(b)) { failed += 1; println(s"FAIL differ: $what") }

    same("row order does not count",
      "SELECT * FROM VALUES (1, 'a'), (2, 'b') t(x, y)",
      "SELECT * FROM VALUES (2, 'b'), (1, 'a') t(x, y)")
    same("column names do not count",
      "SELECT * FROM VALUES (1, 'a') t(x, y)", "SELECT * FROM VALUES (1, 'a') t(p, q)")
    differ("duplicate rows count",
      "SELECT * FROM VALUES (1), (1) t(x)", "SELECT * FROM VALUES (1) t(x)")
    differ("null is not a value",
      "SELECT CAST(NULL AS INT) AS x, 1 AS y", "SELECT 1 AS x, CAST(NULL AS INT) AS y")
    differ("null is not zero", "SELECT CAST(NULL AS BIGINT) AS x", "SELECT 0L AS x")
    differ("null is not NaN", "SELECT CAST(NULL AS DOUBLE) AS x", "SELECT double('NaN') AS x")
    same("NaN is one value", "SELECT double('NaN') AS x", "SELECT sqrt(-1.0D) AS x")
    same("-0.0 equals 0.0", "SELECT -0.0D AS x", "SELECT 0.0D AS x")
    differ("column values do not swap",
      "SELECT 1 AS x, 2 AS y", "SELECT 2 AS x, 1 AS y")
    differ("array order counts", "SELECT array(1, 2) AS a", "SELECT array(2, 1) AS a")
    differ("array null element",
      "SELECT array(1, NULL) AS a", "SELECT array(1) AS a")
    differ("array NaN element",
      "SELECT array(1.0D, double('NaN')) AS a", "SELECT array(1.0D, CAST(NULL AS DOUBLE)) AS a")
    differ("struct null field",
      "SELECT named_struct('p', 1, 'q', CAST(NULL AS INT)) AS s",
      "SELECT named_struct('p', CAST(NULL AS INT), 'q', 1) AS s")
    same("map column hashes by content",
      "SELECT map('a', 1, 'b', 2) AS m", "SELECT map_from_arrays(array('a', 'b'), array(1, 2)) AS m")
    differ("map values count", "SELECT map('a', 1) AS m", "SELECT map('a', 2) AS m")
    differ("map nested in array and struct",
      "SELECT array(named_struct('m', map('a', 1))) AS x",
      "SELECT array(named_struct('m', map('a', 3))) AS x")
    if (Harness.fingerprint(df("SELECT 1 AS x WHERE false"))._2 != "0:0") {
      failed += 1; println("FAIL empty result")
    }
    spark.stop()
    println(s"$failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
