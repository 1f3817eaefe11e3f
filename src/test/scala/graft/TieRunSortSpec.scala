package graft

import graft.plans.TieRunSortExec
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[graft.plans.TieRunSort]] must not change a sort's output: each case
  * runs on the engine session (rule installed) and on a session built
  * without the rule, as a global `orderBy` and as `repartitionByRange` +
  * `sortWithinPartitions`, and the two must agree row for row. Every row
  * carries a unique `id` that is not a sort key, so rows that tie on every
  * key pin the order of ties (stability), not just the sorted keys.
  *
  * One exception, Spark's and not the rule's: when a partition holds null
  * leading keys, Spark's one-key radix sort moves a non-null row to the end
  * each time it places a null (`UnsafeInMemorySorter.insertRecord`), so
  * rows that tie on EVERY key may then come out in another order than a
  * comparison sort's. Those cases compare the key sequence row for row and
  * the set of ids within each all-key tie group.
  *
  * Inputs are scalacheck draws with fixed seeds over small domains, so
  * leading-key runs, nulls and exact duplicates all occur. */
class TieRunSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The same SparkContext, no engine extensions: no TieRunSort rule. */
  private lazy val plain: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().master("local[4]").getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private def draw[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private def frame(s: SparkSession, schema: StructType, rows: Seq[Row], slices: Int): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, slices), schema)

  private def tieRuns(df: DataFrame): Seq[TieRunSortExec] =
    collect(df.queryExecution.executedPlan) { case t: TieRunSortExec => t }

  /** Runs `order` over `rows` both ways on both sessions; returns the rule
    * session's TieRunSortExec nodes of the two forms. */
  private def assertSameOrder(label: String, schema: StructType, rows: Seq[Row],
      order: Seq[Column], slices: Int = 3, parts: Int = 4,
      fires: Boolean = true, stable: Boolean = true): Seq[TieRunSortExec] = {
    val forms: Seq[(String, DataFrame => DataFrame)] = Seq(
      "orderBy" -> (_.orderBy(order: _*)),
      "range+sortWithinPartitions" ->
        (_.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*)))
    forms.flatMap { case (form, f) =>
      val ruled = f(frame(spark, schema, rows, slices))
      val base = f(frame(plain, schema, rows, slices))
      val got = ruled.collect().toSeq
      val want = base.collect().toSeq
      assert(tieRuns(base).isEmpty, s"$label/$form: the plain session planned TieRunSortExec")
      val nodes = tieRuns(ruled)
      assert(nodes.nonEmpty || !fires, s"$label/$form: the rule did not fire")
      val (g, w) = if (stable) (got, want) else (tieGroups(got), tieGroups(want))
      assert(got.length == rows.length && g == w, {
        val i = g.zip(w).indexWhere { case (a, b) => a != b }
        s"$label/$form: outputs differ at ${if (stable) "row" else "tie group"} $i: " +
          s"${g.lift(i)} vs ${w.lift(i)}"
      })
      nodes
    }
  }

  /** Consecutive rows equal on every column but the last (the id), as
    * (those columns, the group's ids sorted). */
  private def tieGroups(rows: Seq[Row]): Seq[(Row, Seq[Long])] = {
    val out = scala.collection.mutable.ArrayBuffer[(Row, Seq[Long])]()
    rows.foreach { r =>
      val key = Row.fromSeq(r.toSeq.init)
      val id = r.getLong(r.length - 1)
      if (out.nonEmpty && out.last._1 == key) out(out.size - 1) = (key, out.last._2 :+ id)
      else out += ((key, Seq(id)))
    }
    out.map { case (k, ids) => (k, ids.sorted) }.toSeq
  }

  // leading-key domains: few values (long runs), nulls, and for double the
  // NaN, -0.0 and 0.0 that the sort treats as NaN = NaN and -0.0 = 0.0
  private val d0 = java.sql.Date.valueOf("1998-01-01")
  private val leads: Seq[(String, DataType, Gen[Any])] = Seq(
    ("long", LongType, Gen.choose(-3L, 3L)),
    ("int", IntegerType, Gen.choose(-3, 3)),
    ("double", DoubleType, Gen.oneOf[Any](Double.NaN, -0.0, 0.0, 1.5, -2.25,
      Double.NegativeInfinity, Double.PositiveInfinity)),
    ("date", DateType, Gen.choose(0, 5).map(d => new java.sql.Date(d0.getTime + d * 86400000L))),
    ("decimal18", DecimalType(18, 2), Gen.choose(-400L, 400L)
      .map(c => java.math.BigDecimal.valueOf(c, 2))))

  private def schemaOf(lead: DataType) = StructType(Seq(
    StructField("k", lead), StructField("s", IntegerType), StructField("t", StringType),
    StructField("id", LongType, nullable = false)))

  /** n rows: lead drawn from `g` (1 in 8 null if `nulls`), second key 0..3
    * (or null), third key one of three strings, unique id. */
  private def rowsOf(g: Gen[Any], n: Int, seed: Long, nulls: Boolean = true): Seq[Row] = {
    val row = for {
      k <- if (nulls) Gen.frequency(7 -> g, 1 -> Gen.const(null)) else g
      s <- Gen.frequency(6 -> Gen.choose(0, 3).map(Int.box), 1 -> Gen.const(null))
      t <- Gen.oneOf("a", "b", "c")
    } yield (k, s, t)
    draw(Gen.listOfN(n, row), seed).zipWithIndex.map { case ((k, s, t), i) =>
      Row(k, s, t, i.toLong) }
  }

  private def directions(c: Column): Seq[(String, Column)] = Seq(
    "asc_nulls_first" -> c.asc_nulls_first, "asc_nulls_last" -> c.asc_nulls_last,
    "desc_nulls_first" -> c.desc_nulls_first, "desc_nulls_last" -> c.desc_nulls_last)

  for (((name, dt, g), li) <- leads.zipWithIndex) {
    test(s"$name leading key: same rows in the same order as a plain sort, " +
      "every direction and null placement, both sort forms") {
      for (nulls <- Seq(false, true)) {
        val rows = rowsOf(g, 600, 100L + li, nulls)
        directions(col("k")).zipWithIndex.foreach { case ((dir, lead), di) =>
          // the second key alternates direction too; `t` then breaks fewer
          // ties, and rows equal on all three keys keep their input order
          val second = if (di % 2 == 0) col("s").asc else col("s").desc_nulls_last
          assertSameOrder(s"$name $dir nulls=$nulls", schemaOf(dt), rows,
            Seq(lead, second, col("t")), stable = !nulls)
        }
      }
    }
  }

  test("exact duplicates on every key keep their input order (stability)") {
    // 40 distinct key triples, 15 copies each, shuffled by a fixed seed
    val keys = for (k <- 0L until 10L; s <- 0 until 4) yield (k, s)
    val copies = new scala.util.Random(7).shuffle(Seq.fill(15)(keys).flatten)
    val rows = copies.zipWithIndex.map { case ((k, s), i) => Row(k, s, "x", i.toLong) }
    assertSameOrder("duplicates", schemaOf(LongType), rows,
      Seq(col("k"), col("s"), col("t")))
    assertSameOrder("duplicates desc", schemaOf(LongType), rows,
      Seq(col("k").desc, col("s").desc, col("t")))
  }

  test("a run longer than the buffer bound takes the sorter path and matches") {
    val n = TieRunSortExec.MaxBufferedRun * 2 + 100
    val rng = new scala.util.Random(3)
    // one hot leading key (k = 7) holds 2n rows, the rest are singletons
    val rows = (0 until 3 * n).map { i =>
      val k = if (i % 3 == 0) i.toLong else 7L
      Row(k, rng.nextInt(50), if (rng.nextBoolean()) "a" else "b", i.toLong)
    }
    for ((label, second) <- Seq("int second key" -> col("s"),
        "string second key" -> col("t"))) {
      val nodes = assertSameOrder(label, schemaOf(LongType), rows,
        Seq(col("k"), second, col("id").desc), slices = 4, parts = 2)
      assert(nodes.map(_.metrics("sorterRuns").value).sum > 0,
        s"$label: the long run never reached the sorter")
    }
  }

  test("empty partitions and empty input") {
    // three leading keys into eight range partitions, from twelve slices
    val rows = rowsOf(Gen.choose(1L, 3L), 40, 9L, nulls = false)
    assertSameOrder("sparse", schemaOf(LongType), rows,
      Seq(col("k"), col("s"), col("t")), slices = 12, parts = 8)
    // (AQE plans an empty stage's consumers away: no node to look for)
    assertSameOrder("empty", schemaOf(LongType), Nil,
      Seq(col("k"), col("s")), slices = 2, parts = 4, fires = false)
  }

  test("low-cardinality leading key under a small memory budget: spills, still matches") {
    // the budget is the SparkContext's, so this case runs in its own JVM
    // (TieRunSpillMain) with spark.testing.memory set low
    val javaBin = System.getProperty("java.home") + "/bin/java"
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toVector
    // the JDK module opens Spark needs, in `--add-opens X` or `--add-opens=X` form
    val opens = in.indices.flatMap { i =>
      if (in(i) == "--add-opens" && i + 1 < in.size) Seq(in(i), in(i + 1))
      else if (in(i).startsWith("--add-opens=")) Seq(in(i))
      else Nil
    }
    val cmd = Seq(javaBin, "-Xmx768m") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.TieRunSpillMain")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val log = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, s"spill JVM failed:\n${log.linesIterator.toSeq.takeRight(40).mkString("\n")}")
    val result = log.linesIterator.find(_.startsWith("TIERUN ")).getOrElse(fail(s"no result:\n$log"))
    val kv = result.stripPrefix("TIERUN ").split(' ').map(_.split('=')).map(a => a(0) -> a(1)).toMap
    assert(kv("match") == "true", result)
    assert(kv("sorter_runs").toLong > 0, result)
    assert(kv("spill_bytes").toLong > 0, result)
  }

  test("the rule leaves sorts alone that a join or window requires") {
    val rows = rowsOf(Gen.choose(0L, 20L), 300, 21L)
    val df = frame(spark, schemaOf(LongType), rows, 3)
    def sortKeys(d: DataFrame): Seq[Int] = {
      d.collect()
      collect(d.queryExecution.executedPlan) { case s: SortExec => s.sortOrder.length }
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val smj = df.as("a").join(df.as("b"), col("a.k") === col("b.k") && col("a.s") === col("b.s"))
      val win = df.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("s", "id")))
      for ((label, d) <- Seq("sort-merge join" -> smj, "window" -> win)) {
        assert(sortKeys(d).exists(_ >= 2), s"$label: no multi-key sort to leave alone")
        assert(tieRuns(d).isEmpty, s"$label: required sort rewritten")
      }
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}

/** Forked by [[TieRunSortSpec]]: a low-cardinality leading key sorted under
  * a small execution-memory budget, with and without the rule. Prints one
  * `TIERUN match=.. sorter_runs=.. spill_bytes=..` line. */
object TieRunSpillMain {
  def main(args: Array[String]): Unit = {
    val spark = Engine.configure(SparkSession.builder().master("local[2]")
      .config("spark.testing.memory", (48L << 20).toString)
      .config("spark.testing.reservedMemory", "0")
      .config("spark.sql.shuffle.partitions", "2"), "tierun-spill").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = SparkSession.builder().master("local[2]").getOrCreate()
    // three leading keys; (k, s) is unique, so the order is fully determined
    // even after spills merge runs
    def sorted(s: SparkSession) = s.range(0, 600000, 1, 4)
      .select((col("id") % 3).as("k"), (col("id") * 7919 % 600011).as("s"), col("id"))
      .repartitionByRange(col("k"), col("s")).sortWithinPartitions("k", "s")
    val ruled = sorted(spark)
    val got = ruled.collect()
    val want = sorted(plain).collect()
    val nodes = new AdaptiveSparkPlanHelper {}.collect(ruled.queryExecution.executedPlan) {
      case t: TieRunSortExec => t
    }
    val runs = nodes.map(_.metrics("sorterRuns").value).sum
    val spilled = nodes.map(_.metrics("spillSize").value).sum
    println(s"TIERUN match=${got.sameElements(want)} sorter_runs=$runs spill_bytes=$spilled rows=${got.length}")
    spark.stop()
  }
}
