package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic numeric helpers.
  *
  * Summing doubles is order-dependent, and Spark's partial aggregation
  * order differs run-to-run and engine-to-engine. Every aggregate we
  * expose to the DuckDB oracle therefore sums **decimals** (exact,
  * order-independent) and converts to double once at the end. Scale 6 is
  * wide enough that the test data's "nice" 2-decimal doubles convert
  * without hitting a rounding-mode boundary.
  */
object Exact {
  val Dec = "decimal(18,6)"

  /** Exact sum of a double column: SUM(CAST(c AS DECIMAL(18,6))) as double. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Exact average: one IEEE division of two exact operands (decimal
    * division scale rules differ between engines, double division doesn't).
    */
  def davg(c: Column): Column =
    sum(c.cast(Dec)).cast("double") / count(c).cast("double")

  /** SQL fragment mirroring [[dsum]] for the oracle. */
  def sqlSum(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,6))) AS DOUBLE)"

  /** SQL fragment mirroring [[davg]] for the oracle. */
  def sqlAvg(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT($expr) AS DOUBLE)"

  /** Exact integer floor-division on non-negative longs: (a − a mod b)
    * is divisible by b, and an IEEE division whose true quotient is a
    * representable integer is exact — so the double division below
    * cannot round, and DuckDB's `//` reproduces it bit-for-bit.
    */
  def intdiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")

  /** Expression-level LET: evaluate `e` ONCE, hand it to `f` as a bound
    * lambda value. A projection column referenced k times is re-inlined
    * k times by CollapseProject — ruinous when the column is a derived
    * array consumed by nested HOFs (the Theil–Sen lesson: the pair loop
    * went O(n²)→O(n³) through exactly this, 96.7 s at sf0.1).
    */
  def let(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), x => f(x)), 1)
}
