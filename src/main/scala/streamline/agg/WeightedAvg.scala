package streamline.agg

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import streamline.util.Det.dec4

/** Typed UDAF witness (SURVEY.md §2.10): weighted average of price by
  * quantity, the Flink `AggregateFunction` equivalent as a Spark
  * `Aggregator[IN, BUF, OUT]`.
  *
  * Determinism: each input is quantized to DECIMAL(…,4) exactly like a
  * SQL `CAST(x AS DECIMAL(18,4))` (HALF_UP), and the buffer keeps exact
  * BigDecimal sums — so merge order (partitions, spills) cannot change
  * the result, and the finish step matches the oracle's
  * `CAST(sum AS DOUBLE) / CAST(sum AS DOUBLE)` bit for bit.
  */
case class WBuf(num: BigDecimal, den: BigDecimal)

object WeightedAvg extends Aggregator[(Double, Double), WBuf, Double] {

  override def zero: WBuf = WBuf(BigDecimal(0), BigDecimal(0))

  override def reduce(b: WBuf, in: (Double, Double)): WBuf =
    WBuf(b.num + dec4(in._1) * dec4(in._2), b.den + dec4(in._2))

  override def merge(a: WBuf, b: WBuf): WBuf =
    WBuf(a.num + b.num, a.den + b.den)

  override def finish(b: WBuf): Double =
    if (b.den.signum == 0) Double.NaN
    else b.num.toDouble / b.den.toDouble

  override def bufferEncoder: Encoder[WBuf] = Encoders.product[WBuf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
