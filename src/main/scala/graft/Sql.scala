package graft

import graft.expr.{MoneySum, MoneyUnits}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Determinism helpers shared by every registered query.
  *
  * The driver verifies each query by hash-comparing Spark's result against
  * DuckDB running the `oracleSql` text. Floating-point SUM is
  * order-dependent, and Spark's aggregation order differs run-to-run (and
  * from DuckDB's), so every money/measure aggregate goes through an exact
  * decimal: cast input to DECIMAL(12,2) (inputs are 2-decimal doubles),
  * aggregate exactly, cast the final result back to DOUBLE. The double
  * conversion is deterministic, so both engines produce bit-identical
  * float64 columns. Computed integers are widened to BIGINT on both sides
  * (DuckDB SUM(int) yields INT128, Spark row_number yields INT32 — either
  * would break the hash compare).
  *
  * Money sums run in fixed point, never as `sum(dec(..))`. [[units]] reads
  * a 2-decimal double as its cents (a bigint) without building a
  * BigDecimal; [[moneySum]] adds `units × factor` into two long slots
  * (exact 128-bit) and builds the one decimal a group returns. The result
  * equals `sum` over the decimal column value for value, type, null and
  * overflow error (`MoneyExactnessSpec`), so the oracle SQL keeps its
  * DECIMAL spelling. Where `sum(dec(..))` pays a BigDecimal per row, and
  * Spark's `DecimalAggregates` rewrite never fires at DECIMAL(12,2)
  * (it needs p + 10 ≤ 18), this path does per-row long arithmetic only.
  * The cents read is exact: it takes `r = rint(d × 100)` only when
  * `|r| < 1e12` and `r / 100.0 == d`; below 1e10 doubles are at most 2e-6
  * apart, so `r / 100` is the one 2-decimal value that rounds to `d`, and
  * Spark's cast (decimal string within one ulp, HALF_UP) yields `r` too.
  * Every other double goes through Spark's own cast.
  */
object Sql {
  /** Exact money type: TPC-H prices < 1e10 with 2 decimals. */
  val Money: DecimalType = DecimalType(12, 2)

  /** Type of `dec(a) * dec(b)`. */
  val MoneyProduct: DecimalType = DecimalType(25, 4)

  /** Type of [[revenue]]: DECIMAL(12,2) × DECIMAL(13,2). */
  val Revenue: DecimalType = DecimalType(26, 4)

  def dec(c: Column): Column = c.cast(Money)

  /** `dec(c)` in cents, as a bigint (null where `dec(c)` is null). */
  def units(c: Column): Column =
    GraftSqlBridge.column(MoneyUnits(GraftSqlBridge.expression(dec(c))))

  /** `1 - discount` in cents: the factor that turns price cents into
    * [[revenue]] units (scale 4). */
  def revenueFactor(discount: Column): Column = lit(100L) - units(discount)

  /** Exact SUM of `units × factor` read at `tpe`'s scale: the value, type
    * (`DECIMAL(p + 10, s)`), nulls and overflow error of `sum` over the
    * `tpe` column, from long arithmetic per row. */
  def moneySum(units: Column, factor: Column, tpe: DecimalType): Column =
    GraftSqlBridge.column(MoneySum(GraftSqlBridge.expression(units),
      GraftSqlBridge.expression(factor), tpe).toAggregateExpression())

  /** [[moneySum]] with factor 1: `units` is bigint cents of `tpe`, or a
    * `tpe` column itself (a partial sum being merged). */
  def moneySum(units: Column, tpe: DecimalType): Column = moneySum(units, lit(1L), tpe)

  /** Spark's `sum` result type over `tpe`: the type of a [[moneySum]]. */
  def sumType(tpe: DecimalType): DecimalType = MoneySum.sumType(tpe)

  /** Order-independent exact SUM of a 2-decimal double, returned as double. */
  def dsum(c: Column): Column = moneySum(units(c), Money).cast(DoubleType)

  /** Exact revenue term: price * (1 - discount), in decimal. */
  def revenue(price: Column, discount: Column): Column =
    dec(price) * (lit(1).cast(Money) - dec(discount))

  /** SQL twin of [[revenue]] — the oracle-side spelling of the engine's
    * core determinism invariant. ONE definition: every oracle that sums
    * revenue interpolates this (or [[SumRevSql]]), so a precision change
    * edits one line instead of N hand-copied string literals. */
  val RevSql: String =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"

  /** SQL twin of [[dsumRevenue]]: exact-decimal revenue sum, cast DOUBLE. */
  val SumRevSql: String = s"CAST(SUM($RevSql) AS DOUBLE)"

  /** `CAST(SUM(revenue(price, discount)) AS DOUBLE)`, in fixed point. */
  def dsumRevenue(price: Column, discount: Column): Column =
    moneySum(units(price), revenueFactor(discount), Revenue).cast(DoubleType)

  /** Deterministic AVG = exact decimal sum (as double) / count. */
  def davg(c: Column): Column = (dsum(c) / count(c)).cast(DoubleType)

  def ts(s: String): Column = lit(s).cast(TimestampType)

  def asLong(c: Column): Column = c.cast(LongType)
}
