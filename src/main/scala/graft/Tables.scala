package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared table loading + determinism helpers.
  *
  * All oracle-checked queries must produce bit-identical values on Spark and
  * DuckDB. Floating-point SUM/AVG is order-dependent, so every monetary /
  * fractional aggregate quantizes each value to exact integer cents (an
  * exact DECIMAL(18,2) cast per row), accumulates a primitive long and
  * divides once at the very end (both engines sum the same integers, so the
  * final double is deterministic).
  */
object Tables {
  /** Load one of the driver-generated testdata tables from `dir`. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Exact 2-decimal cast: inputs are 2-decimal doubles (TPC-H money style),
    * so the round-trip double→decimal(18,2) is lossless in both engines. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact integer cents for a 2-decimal double (per-row, cheap). */
  def cents(c: Column): Column = (dec2(c) * 100).cast("long")

  /** Deterministic SUM over a 2-decimal double column → DOUBLE: quantize
    * each value to exact integer cents (the decimal cast is per-row and
    * cheap), accumulate as a plain long, divide once at the end. The value
    * is nearest-double(n/100) in both engines, since IEEE division is
    * correctly rounded, and the aggregation buffer is a primitive long
    * instead of a Decimal object. Overflows (ANSI: throws) past ~9.2e16
    * cents per group. */
  def lsum(c: Column): Column =
    sum(cents(c)) / lit(100.0)

  /** Deterministic AVG: the [[lsum]] value divided by the count. */
  def lavg(c: Column): Column =
    (sum(cents(c)) / lit(100.0)) / count(c)

  /** Deterministic revenue-style SUM(price * (1 - discount)) in
    * exact 1e-4 units — cents(price) · (100 − cents(discount)) — summed as
    * a primitive long, divided once at the end. Each engine computes
    * double(n)/10000.0 on the identical integer n, so the result is
    * bit-identical cross-engine. Per-group headroom: ~9.2e18/1e9 ≈ 1e10
    * TPC-H-priced rows before ANSI overflow. */
  def lsumRevenue(price: Column, discount: Column): Column =
    sum(cents(price) * (lit(100L) - cents(discount))) / lit(10000.0)

  /** Deterministic SUM(a * b) over two 2-decimal double columns (same
    * 1e-4-unit contract as [[lsumRevenue]]). */
  def lsumProd(a: Column, b: Column): Column =
    sum(cents(a) * cents(b)) / lit(10000.0)

  /** DuckDB-side spelling of [[cents]]. */
  def sqlCents(x: String): String = s"CAST(CAST($x AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** DuckDB-side spelling of [[lsum]]. */
  def sqlLsum(x: String): String =
    s"CAST(SUM(${sqlCents(x)}) AS DOUBLE) / 100.0"

  /** DuckDB-side spelling of [[lavg]]. */
  def sqlLavg(x: String): String =
    s"(CAST(SUM(${sqlCents(x)}) AS DOUBLE) / 100.0) / COUNT($x)"

  /** DuckDB-side spelling of [[lsumRevenue]]. */
  def sqlLsumRevenue(price: String, discount: String): String =
    s"CAST(SUM(${sqlCents(price)} * (100 - ${sqlCents(discount)})) AS DOUBLE) / 10000.0"

  /** DuckDB-side spelling of [[lsumProd]]. */
  def sqlLsumProd(a: String, b: String): String =
    s"CAST(SUM(${sqlCents(a)} * ${sqlCents(b)}) AS DOUBLE) / 10000.0"
}
