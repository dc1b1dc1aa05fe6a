package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.8 F1-F8) plus oracle-determinism
  * helpers.
  *
  * Determinism note (SURVEY §5.1): Spark and DuckDB sum doubles in
  * different orders, so a raw `sum(double)` can differ in the last bits
  * and fail the driver's hash compare. `dsum`/`davg` aggregate through
  * DECIMAL — exact, order-independent, bit-identical across engines —
  * then cast back to double so the output schema stays DOUBLE.
  */
object Scalar {

  /** Order-independent double sum: exact decimal accumulation.
    * Oracle twin: `CAST(SUM(CAST(x AS DECIMAL(18,s)) ) AS DOUBLE)`.
    */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Order-independent double mean: exact decimal sum / count.
    * Oracle twin: `CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / COUNT(x)`.
    */
  def davg(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double") / count(c)

  /** F3 (reference main.go:39): timestamp → epoch nanos. Spark timestamps
    * are µs precision; ns = µs*1000 (zero-padded, documented truncation).
    */
  def epochNanos(c: Column): Column = unix_micros(c) * lit(1000L)
}
