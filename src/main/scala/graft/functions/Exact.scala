package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Deterministic floating-point aggregation helpers.
  *
  * A plain `sum(double)` depends on partition/merge order, so two engines (or
  * two runs with different partitioning) can disagree in the last ulps. Summing
  * through a fixed-scale decimal makes the aggregate value exact and
  * order-independent; casting the final decimal back to double is a single
  * deterministic rounding. The same construction is expressible in ANSI SQL
  * (`CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE)`), which is what makes the
  * DuckDB-oracle hash checks reproducible. Per-row double arithmetic (+ - * /
  * sqrt) is IEEE-754-exact and identical across engines, so only aggregation
  * boundaries need this treatment.
  */
object Exact {

  /** 6 fractional digits: money-like magnitudes (price × qty sums). */
  def dec6(c: Column): Column = c.cast(DecimalType(30, 6))

  /** Order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(dec6(c)).cast(DoubleType)

  /** Order-independent mean: exact decimal sum / non-null count. */
  def davg(c: Column): Column = dsum(c) / count(c).cast(DoubleType)

  /** Bit-reproducible mean using ONLY IEEE-754 ops (no decimal conversions):
    * scale by 10^scale, floor to an exact integer, sum exactly as longs, then
    * divide back in double. Unlike a decimal-sum cast back to double (whose
    * final conversion is engine-internal and, in DuckDB, doubly-rounded for
    * high scales), every step here — multiply, floor, int→double cast,
    * divide — is exactly specified by IEEE 754 and thus identical in any
    * engine. Use for aggregates whose inputs aren't integral. */
  def floorAvg(c: Column, scale: Int): Column = {
    val unit = math.pow(10, scale.toDouble)
    sum(floor(c * lit(unit))).cast(DoubleType) / lit(unit) / count(c).cast(DoubleType)
  }

  /** Bit-reproducible sum; same construction as [[floorAvg]]. */
  def floorSum(c: Column, scale: Int): Column = {
    val unit = math.pow(10, scale.toDouble)
    sum(floor(c * lit(unit))).cast(DoubleType) / lit(unit)
  }
}
