package graft

import graft.Sql._
import graft.expr.{MoneyMath, MoneyUnits}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The fixed-point money path must be `CAST(.. AS DECIMAL)` + `sum` to the
  * bit, under ANSI on and off: [[Sql.units]] ≡ the unscaled value of
  * `dec(d)` (same null, same error), and [[Sql.moneySum]] ≡ `sum` over the
  * decimal column (same type, value, null and overflow null/error). Inputs
  * are seeded scalacheck draws plus the edge values named in each test;
  * frames are repartitioned so the projections run as generated code. */
class MoneyExactnessSpec extends SparkSpec {
  import spark.implicits._

  private def draw[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private def withAnsi[T](on: Boolean)(f: => T): T = {
    SparkSession.setActiveSession(spark)
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** The innermost error condition (class name if none) of a failure. */
  private def condition(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.reverse.collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(e.getClass.getName)

  private def outcome(df: DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq) catch { case e: Exception => Left(condition(e)) }

  private def doubles(xs: Seq[java.lang.Double]): DataFrame =
    xs.toDF("d").repartition(2)

  private def cents(v: Any): Any = v match {
    case b: java.math.BigDecimal => b.setScale(2).unscaledValue.longValueExact
    case other => other
  }

  /** Off the fast path's grid, or outside DECIMAL(12,2). */
  private val edges: Seq[java.lang.Double] = Seq[java.lang.Double](
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, null,
    1e10, -1e10, Math.nextUp(1e10), Math.nextDown(1e10),
    -Math.nextUp(1e10), -Math.nextDown(1e10), 9999999999.99, -9999999999.99,
    9999999999.995, 1e300, Double.MinPositiveValue, 0.005, 0.015, 2.675, 1.0 / 3)

  private val onGrid: Gen[List[java.lang.Double]] = Gen.listOfN(400, Gen.oneOf(
    Gen.choose(-999999999999L, 999999999999L), Gen.choose(-100000L, 100000L))
    .map(c => java.lang.Double.valueOf(c / 100.0)))

  private val offGrid: Gen[List[java.lang.Double]] = Gen.listOfN(400, Gen.oneOf(
    Gen.choose(-99999999999L, 99999999999L).map(c => c / 100.0 + 0.005),
    Gen.choose(-1e10, 1e10), Gen.choose(-1.0, 1.0), Gen.choose(1L, 1000L).map(1.0 / _))
    .map(java.lang.Double.valueOf))

  for (ansi <- Seq(false, true)) {
    test(s"units ≡ unscaled CAST(d AS DECIMAL(12,2)) on grid/off-grid values (ansi=$ansi)") {
      withAnsi(ansi) {
        val xs = draw(onGrid, 11L) ++ draw(offGrid, 12L)
        val rows = doubles(xs).select(col("d"), units(col("d")), dec(col("d"))).collect()
        assert(rows.length == xs.length)
        rows.foreach(r => assert(r.get(1) == cents(r.get(2)), s"d=${r.get(0)}"))
      }
    }

    test(s"units ≡ the cast on NaN, ±Inf, ±(1e10 ± ulp), -0.0, null: value, null or error (ansi=$ansi)") {
      withAnsi(ansi) {
        val runs = edges.map { d =>
          val df = doubles(Seq(d))
          (d, outcome(df.select(units(col("d")))),
            outcome(df.select(dec(col("d")))).map(_.map(r => Row(cents(r.get(0))))))
        }
        val bad = runs.collect { case (d, got, ref) if got != ref => s"d=$d: units=$got cast=$ref" }
        assert(bad.isEmpty, bad.mkString("\n"))
        // the mode took effect: only ANSI raises
        assert(runs.exists(_._3.isLeft) == ansi)
        // interpreted eval: the same node outside generated code
        val mode = if (ansi) EvalMode.ANSI else EvalMode.LEGACY
        (edges.filter(_ != null) ++ draw(offGrid, 13L).take(50)).foreach { d =>
          val cast = Cast(Literal(d.doubleValue), Money, Some("UTC"), mode)
          def run(f: => Any): Either[String, Any] =
            try Right(f) catch { case e: Exception => Left(condition(e)) }
          assert(run(MoneyUnits(cast).eval()) == run(cents(cast.eval() match {
            case null => null
            case v: Decimal => v.toJavaBigDecimal
          })), s"d=$d")
        }
        // and inside an aggregate: the same answer, or an error on both
        // sides (which failing row reports first is a race between tasks)
        val all = doubles(edges ++ draw(onGrid, 14L).take(20))
        val got = outcome(all.agg(dsum(col("d"))))
        val ref = outcome(all.agg(sum(dec(col("d"))).cast(DoubleType)))
        if (ansi) assert(got.isLeft && ref.isLeft, s"$got $ref") else assert(got == ref)
      }
    }

    test(s"moneySum ≡ sum(decimal) on random groups, empty and all-null groups (ansi=$ansi)") {
      withAnsi(ansi) {
        val gen = Gen.listOfN(600, for {
          g <- Gen.choose(0, 9); i <- Gen.choose(0, 1000000)
          p <- Gen.frequency(9 -> Gen.choose(-99999999L, 999999999L).map(c => Some(c / 100.0)),
            1 -> Gen.const(None))
          d <- Gen.choose(0L, 10L).map(_ / 100.0)
        } yield (g, i, p, d))
        val df = (draw(gen, 21L) ++ Seq((99, 0, None, 0.05), (99, 1, None, 0.01)))
          .toDF("g", "i", "p", "d").repartition(3)
        val p = col("p"); val d = col("d")
        def compare(got: DataFrame, ref: DataFrame): Unit = {
          assert(got.schema.map(_.dataType) == ref.schema.map(_.dataType))
          def rows(f: DataFrame) = f.collect().map(_.toSeq.map {
            case x: Double => java.lang.Double.doubleToRawLongBits(x)
            case x => x
          }).toSeq.sortBy(_.mkString(","))
          assert(rows(got) == rows(ref))
        }
        val mon = Seq(
          moneySum(units(p), Money), moneySum(units(p), revenueFactor(d), Revenue),
          moneySum(units(p), units(d), MoneyProduct), dsum(p), davg(p),
          dsumRevenue(p, d))
        val ref = Seq(
          sum(dec(p)), sum(revenue(p, d)), sum(dec(p) * dec(d)),
          sum(dec(p)).cast(DoubleType), (sum(dec(p)).cast(DoubleType) / count(p)).cast(DoubleType),
          sum(revenue(p, d)).cast(DoubleType))
        def grouped(cs: Seq[Column]) = df.groupBy("g").agg(cs.head, cs.tail: _*)
        compare(grouped(mon), grouped(ref))
        val none = df.filter(col("g") < 0)
        compare(none.agg(mon.head, mon.tail: _*), none.agg(ref.head, ref.tail: _*))
        // q20's salted partials merged, and q9's running window
        val part = df.groupBy(col("g"), pmod(col("i"), lit(8)).as("salt"))
        compare(
          part.agg(moneySum(units(p), Money).as("s")).groupBy("g")
            .agg(moneySum(col("s"), sumType(Money))),
          part.agg(sum(dec(p)).as("s")).groupBy("g").agg(sum(col("s"))))
        val w = Window.partitionBy("g").orderBy("i", "p")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        compare(df.select(col("g"), col("i"), moneySum(units(p), Money).over(w)),
          df.select(col("g"), col("i"), sum(dec(p)).over(w)))
      }
    }

    test(s"moneySum carries across 2^62 and 2^64 and overflows like sum(decimal) (ansi=$ansi)") {
      withAnsi(ansi) {
        val big = Gen.oneOf(Gen.const(Long.MaxValue), Gen.const(Long.MinValue),
          Gen.choose(Long.MinValue, Long.MaxValue), Gen.choose(-(1L << 62), 1L << 62))
        val rows = draw(Gen.listOfN(300, Gen.zip(Gen.choose(0, 4), big,
          Gen.choose(-1000000000000000L, 1000000000000000L))), 31L)
        val df = rows.toDF("g", "u", "v").repartition(3)
        def both(got: DataFrame, ref: DataFrame): Unit = {
          assert(got.schema.head.dataType == ref.schema.head.dataType)
          assert(outcome(got.orderBy("g")) == outcome(ref.orderBy("g")))
        }
        val d20 = DecimalType(20, 0); val d38 = DecimalType(38, 0)
        // long units: every partial sum crosses the 64-bit word repeatedly
        both(df.groupBy("g").agg(moneySum(col("u"), d20).as("s")),
          df.groupBy("g").agg(sum(col("u").cast(d20)).as("s")))
        // 128-bit products of mixed sign, within DECIMAL(38,0)
        both(df.groupBy("g").agg(moneySum(col("u"), col("v"), d38).as("s")),
          df.groupBy("g").agg(sum(col("u").cast(d20) * col("v").cast(d20)).as("s")))
        // same-sign products of ~8.5e37: group 1 overflows DECIMAL(38,0),
        // group 0 stays in range — null (ansi off) or the same error
        val ovf = Seq((0, Long.MaxValue, 1L), (0, Long.MaxValue, Long.MaxValue),
          (1, Long.MaxValue, Long.MaxValue), (1, Long.MinValue, Long.MinValue),
          (1, 5L, 7L)).toDF("g", "u", "v").repartition(2)
        val got = outcome(ovf.groupBy("g").agg(moneySum(col("u"), col("v"), d38).as("s"))
          .orderBy("g"))
        assert(got == outcome(ovf.groupBy("g")
          .agg(sum(col("u").cast(d20) * col("v").cast(d20)).as("s")).orderBy("g")))
        assert(got.fold(_ => ansi, rows => !ansi && rows(1).isNullAt(1) && !rows(0).isNullAt(1)))
      }
    }
  }

  test("DECIMAL(22,2) and (36,4) bounds: 10^p - 1 fits, ±10^p overflows") {
    // the dsum (22) and revenue (36) result bounds: unreachable from 12-digit
    // inputs in fewer than 10^10 rows, so pinned at the kernel
    for (p <- Seq(22, 32, 36, 38); sign <- Seq(1, -1)) {
      val top = java.math.BigInteger.TEN.pow(p).subtract(java.math.BigInteger.ONE)
        .multiply(java.math.BigInteger.valueOf(sign))
      def words(b: java.math.BigInteger) = (b.longValue, b.shiftRight(64).longValue)
      val (lo, hi) = words(top)
      val (oneLo, oneHi) = words(java.math.BigInteger.valueOf(sign))
      assert(MoneyMath.addHigh(0L, 0L, lo, hi, p) == hi, s"p=$p sign=$sign")
      assert(MoneyMath.toDecimal(lo, hi, p, 2).toJavaBigDecimal.unscaledValue == top)
      assert(MoneyMath.addHigh(lo, hi, oneLo, oneHi, p) == MoneyMath.Overflow,
        s"p=$p sign=$sign: ±10^p must overflow")
    }
    assert(MoneyMath.toDecimal(0L, MoneyMath.Overflow, 22, 2) == null)
  }
}
