package streamline.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism helpers (SURVEY.md §2.12).
  *
  * The oracle compare is an exact hash match against DuckDB, so every
  * aggregate must be order-independent. Strategy: do all additive math in
  * exact DECIMAL (cast each double input once to DECIMAL(18,4) — a
  * deterministic nearest-value conversion in both engines), keep sums
  * exact, and only convert to DOUBLE as the very last step (an exact
  * decimal converts to the same IEEE double in every engine). This makes
  * results independent of partitioning / merge order — which also means a
  * local pass at sf0.01 is a driver pass, regardless of the driver's
  * executor-thread count.
  */
object Det {
  /** Exact fixed-point view of a double column: the arithmetic currency. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  def dec(name: String): Column = dec(col(name))

  /** Exact fixed-point literal (e.g. the `1` in `1 - discount`). */
  def decLit(v: Int): Column = lit(v).cast(DecimalType(18, 4))

  /** One double quantized like `CAST(x AS DECIMAL(18,4))` (HALF_UP to
    * 4 dp): [[dec]] for values folded row by row in typed state. */
  def dec4(v: Double): BigDecimal =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)

  /** Final output conversion for an exact decimal aggregate. */
  def asDouble(c: Column): Column = c.cast("double")

  /** sum of doubles, exact + order-independent, emitted as double. */
  def dsum(name: String): Column = asDouble(sum(dec(name)))

  /** avg as exact-sum / count, both converted to double before the
    * (IEEE-deterministic) division — matches the oracle's
    * `CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / count(x)`. */
  def davg(name: String): Column =
    asDouble(sum(dec(name))) / count(col(name)).cast("double")

  /** Output form for timestamp columns: Spark writes TimestampType to
    * parquet UTC-adjusted (DuckDB would read TIMESTAMPTZ), but the oracle
    * side reads the driver's naive timestamps. Casting to TIMESTAMP_NTZ
    * under the UTC session emits the same wall-clock value unadjusted,
    * so both sides hash identically (SURVEY.md §2.12.3). */
  def tsOut(c: Column): Column = c.cast("timestamp_ntz")

  /** tsOut + truncation to whole seconds, for values derived from the
    * ns-precision `events.ts` (Spark reads µs, DuckDB ns). */
  def tsSec(c: Column): Column = tsOut(date_trunc("second", c))
}
