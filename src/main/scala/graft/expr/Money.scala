package graft.expr

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Fixed-point arithmetic behind [[MoneyUnits]] and [[MoneySum]].
  *
  * A money sum is held as a 128-bit two's-complement integer in two longs:
  * `value = hi · 2^64 + unsigned(lo)`, the unscaled value of the decimal
  * sum. Every bound of a decimal sum type, `|value| < 10^38`, leaves `hi`
  * within ±5.5e18, so [[Overflow]] (`Long.MinValue`) is free to mark a sum
  * that left its type's range.
  */
object MoneyMath {
  /** `hi` of a sum that left its type's range (sticky). */
  val Overflow: Long = Long.MinValue

  private def hiWord(b: BigInteger): Long = b.shiftRight(64).longValue
  private val bounds = (0 to DecimalType.MAX_PRECISION).map(BigInteger.TEN.pow)
  // (hi, lo) words of +10^p and -10^p, p = 0..38
  private val posHi = bounds.map(hiWord).toArray
  private val posLo = bounds.map(_.longValue).toArray
  private val negHi = bounds.map(b => hiWord(b.negate)).toArray
  private val negLo = bounds.map(_.negate.longValue).toArray

  /** Cents of `d` when `d` is exactly a 2-decimal value below 1e10 in
    * magnitude, else [[Overflow]] (the caller falls back to Spark's cast).
    * Exact: below 1e10 two doubles are at most 2^-19 apart, so `r / 100`
    * is the only 2-decimal value that rounds to `d`; Spark's cast reads
    * `d` back as a decimal within one ulp of `r / 100` and its HALF_UP
    * rounding to 2 places returns `r`. */
  def fastCents(d: Double): Long = {
    val r = Math.rint(d * 100)
    if (Math.abs(r) < 1e12 && r / 100 == d) r.toLong else Overflow
  }

  /** High word of `(hi:lo) + (tHi:tLo)`, or [[Overflow]] when either
    * operand already overflowed or the sum reaches `±10^p`. */
  def addHigh(lo: Long, hi: Long, tLo: Long, tHi: Long, p: Int): Long = {
    if (hi == Overflow || tHi == Overflow) return Overflow
    val l = lo + tLo
    val h1 = hi + tHi
    // signed overflow of the high words: |sum| >= 2^127 > 10^38
    if (((hi ^ h1) & (tHi ^ h1)) < 0) return Overflow
    val h = if (java.lang.Long.compareUnsigned(l, lo) < 0) h1 + 1 else h1
    if (h > posHi(p) || (h == posHi(p) && java.lang.Long.compareUnsigned(l, posLo(p)) >= 0) ||
      h < negHi(p) || (h == negHi(p) && java.lang.Long.compareUnsigned(l, negLo(p)) <= 0))
      Overflow
    else h
  }

  private def unscaled(d: Decimal, scale: Int): BigInteger =
    d.toJavaBigDecimal.setScale(scale).unscaledValue

  /** Low word of a decimal's unscaled value at `scale`. */
  def lowWord(d: Decimal, scale: Int): Long = unscaled(d, scale).longValue

  /** High word of a decimal's unscaled value at `scale`. */
  def highWord(d: Decimal, scale: Int): Long = hiWord(unscaled(d, scale))

  /** The decimal `(hi:lo) / 10^scale`, or null once the sum overflowed. */
  def toDecimal(lo: Long, hi: Long, precision: Int, scale: Int): Decimal =
    if (hi == Overflow) null
    else {
      val v = BigInteger.valueOf(hi).shiftLeft(64)
        .or(BigInteger.valueOf(lo).and(BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)))
      Decimal(new JBigDecimal(v, scale), precision, scale)
    }
}

/** `money_units(dec) -> bigint`: the unscaled value of a decimal of at
  * most 18 digits, so `money_units(CAST(x AS DECIMAL(12,2)))` is `x` in
  * cents.
  *
  * For `CAST(double AS DECIMAL(12,2))` the cast is not run on the common
  * path: [[MoneyMath.fastCents]] reads the cents off the double. Every
  * other input (off-grid doubles, NaN, ±Inf, out of range) is handed to
  * that same `Cast` node, with its own eval mode, so the result, null or
  * error is always the cast's. Any other child is evaluated as written.
  */
case class MoneyUnits(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"money_units requires a decimal of at most 18 digits, got $other")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "money_units"

  /** The cast on the fast path, re-rooted on a one-column row of its
    * double input; evaluated only for inputs the fast path declines. */
  @transient private lazy val fallback: Option[MoneyUnits.Fallback] = child match {
    case c @ Cast(d, t: DecimalType, _, _)
        if d.dataType == DoubleType && t.precision == 12 && t.scale == 2 =>
      Some(new MoneyUnits.Fallback(c.withNewChildren(Seq(BoundReference(0, DoubleType, false)))))
    case _ => None
  }

  override def eval(input: InternalRow): Any = fallback match {
    case Some(f) =>
      val d = child.children.head.eval(input)
      if (d == null) null else f.units(d.asInstanceOf[Double])
    case None =>
      val d = child.eval(input)
      if (d == null) null else d.asInstanceOf[Decimal].toUnscaledLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    fallback match {
      case Some(f) =>
        val d = child.children.head.genCode(ctx)
        val slow = ctx.addReferenceObj("moneyUnitsFallback", f)
        val math = MoneyMath.getClass.getName.stripSuffix("$")
        val cast = ctx.freshName("cast")
        ev.copy(code = code"""
          |${d.code}
          |boolean ${ev.isNull} = ${d.isNull};
          |long ${ev.value} = -1L;
          |if (!${ev.isNull}) {
          |  ${ev.value} = $math.fastCents(${d.value});
          |  if (${ev.value} == Long.MIN_VALUE) {
          |    Long $cast = $slow.units(${d.value});
          |    ${ev.isNull} = $cast == null;
          |    ${ev.value} = ${ev.isNull} ? -1L : $cast;
          |  }
          |}""".stripMargin)
      case None =>
        defineCodeGen(ctx, ev, c => s"$c.toUnscaledLong()")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MoneyUnits {
  /** Spark's own `CAST(d AS DECIMAL(12,2))` for one double, as cents. */
  final class Fallback(cast: Expression) extends Serializable {
    def units(d: Double): java.lang.Long = {
      val v = cast.eval(InternalRow(d))
      if (v == null) null else java.lang.Long.valueOf(v.asInstanceOf[Decimal].toUnscaledLong)
    }
  }
}

/** `money_sum(units, factor)`: exact `SUM` of `units × factor / 10^s` as
  * Spark's `sum` over `inputType` = DECIMAL(p, s) computes it, with the
  * same result type DECIMAL(p + 10, s), the same null for empty and
  * all-null groups, and the same null (ANSI off) or error (ANSI on) when
  * the sum leaves that type's range.
  *
  * `units` and `factor` are bigints: a row adds their exact 128-bit
  * product; a row where either is null is skipped. `units` may instead be
  * a column of `inputType` itself with `factor` the literal 1 (summing
  * partial sums). The buffer is three fixed-width slots (`lo`, `hi`,
  * `empty`, see [[MoneyMath]]) updated in place, where `sum(decimal)`
  * builds a BigDecimal and writes a byte array per row whenever
  * p + 10 > 18.
  *
  * Overflow is checked after every row and merge against 10^(p+10), as
  * Spark's hash aggregate does when it writes its decimal buffer back. For
  * inputs of one sign this is exactly "the result leaves the type"; a
  * mixed-sign sum whose running total leaves the range and comes back is
  * row-order dependent in Spark too. `evalMode` (ANSI: error, else null)
  * is read from the session conf when the expression is built, as the
  * `Cast` under [[MoneyUnits]] reads its own.
  */
case class MoneySum(
    units: Expression,
    factor: Expression,
    inputType: DecimalType,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
  extends DeclarativeAggregate with BinaryLike[Expression] with SupportQueryContext {

  override def left: Expression = units
  override def right: Expression = factor

  private lazy val resultType = MoneySum.sumType(inputType)
  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override def prettyName: String = "money_sum"

  override def checkInputDataTypes(): TypeCheckResult = (units.dataType, factor) match {
    case (LongType, f) if f.dataType == LongType => TypeCheckResult.TypeCheckSuccess
    case (d: DecimalType, Literal(1L, LongType)) if d == inputType =>
      TypeCheckResult.TypeCheckSuccess
    case (u, f) => TypeCheckResult.TypeCheckFailure(
      s"money_sum takes bigint units and factor, or $inputType units and factor 1; " +
        s"got ${u.simpleString} and $f")
  }

  override def initQueryContext(): Option[QueryContext] =
    if (evalMode == EvalMode.ANSI) Some(origin.context) else None

  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val empty = AttributeReference("empty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(lo, hi, empty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  private def kernel(dt: DataType, name: String, args: Expression*): Expression =
    StaticInvoke(MoneyMath.getClass, dt, name, args, propagateNull = false,
      returnNullable = dt != LongType)
  private val wrapping = NumericEvalContext(EvalMode.LEGACY)
  private def precision = Literal(resultType.precision)

  override lazy val updateExpressions: Seq[Expression] = {
    val present = And(IsNotNull(units), IsNotNull(factor))
    val (tLo, tHi) = units.dataType match {
      case LongType => (Multiply(units, factor, wrapping),
        StaticInvoke(classOf[Math], LongType, "multiplyHigh", Seq(units, factor),
          propagateNull = false, returnNullable = false))
      case _ => (kernel(LongType, "lowWord", units, Literal(inputType.scale)),
        kernel(LongType, "highWord", units, Literal(inputType.scale)))
    }
    Seq(
      If(present, Add(lo, tLo, wrapping), lo),
      If(present, kernel(LongType, "addHigh", lo, hi, tLo, tHi, precision), hi),
      And(empty, Not(present)))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Add(lo.left, lo.right, wrapping),
    kernel(LongType, "addHigh", lo.left, hi.left, lo.right, hi.right, precision),
    And(empty.left, empty.right))

  override lazy val evaluateExpression: Expression = If(empty,
    Literal(null, resultType),
    CheckOverflowInSum(
      kernel(resultType, "toDecimal", lo, hi, precision, Literal(resultType.scale)),
      resultType, nullOnOverflow = evalMode != EvalMode.ANSI, getContextOrNull()))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MoneySum =
    copy(units = newLeft, factor = newRight)
}

object MoneySum {
  /** Spark's `sum` result type over `t`. */
  def sumType(t: DecimalType): DecimalType =
    DecimalType(math.min(t.precision + 10, DecimalType.MAX_PRECISION), t.scale)
}
