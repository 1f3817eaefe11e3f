package graft

import org.apache.spark.sql.functions._

/** The measurement window behind bench.json's per-query maps and Scale's
  * rows ([[Measure]] — the Spark-native analogue of the reference's
  * listener bus for block/shuffle events, `scheduler/ScacheListener.scala:24-106`).
  * Pinned: a genuine shuffle's bytes and phase times land in the window
  * that ran it, and a shuffle-free window stays at zero, so the per-query
  * records are attributable, not smeared; a streaming window carries its
  * micro-batches; a query that throws leaves nothing in the next window. */
class ListenerTelemetrySpec extends SparkSpec {

  private def withMeasure[T](f: Measure => T): T = {
    val m = Measure.install(spark)
    try f(m) finally m.close()
  }

  test("shuffle bytes attribute to their window; shuffle-free windows add zero") {
    withMeasure { m =>
      // a genuine shuffle: explicit hash repartition + aggregation
      val shuffled = m.window(sf)((s, d) => Catalog.table(s, d, "documents")
        .repartition(8, col("lang"))
        .groupBy(col("lang")).count())
      assert(shuffled.ok)
      val r = shuffled.metrics
      assert(r("shuffle_write") > 0, "shuffle write bytes must be captured")
      assert(r("shuffle_read") > 0, "shuffle read bytes must be captured")
      assert(r("shuffle_write_s") > 0, "map-side shuffle write time must be captured")
      // local reads barely wait: present, never negative
      assert(r.contains("fetch_wait_s") && r("fetch_wait_s") >= 0)
      assert(r("plan_s") > 0, "planning seconds must be captured")
      assert(r("reduce_max_s") >= r("reduce_median_s"))
      // a scan-only job (no exchange) must add nothing to either counter
      val scan = m.window(sf)((s, d) => Catalog.table(s, d, "documents")
        .filter(col("n_chars") > 0).select(col("doc_id")))
      assert(scan.ok)
      Seq("shuffle_read", "shuffle_write", "shuffle_write_s", "fetch_wait_s")
        .foreach(k => assert(scan.metrics(k) == 0, s"a shuffle-free window must not move $k"))
      assert(scan.metrics("tasks") > 0)
    }
  }

  test("a streaming window records its micro-batches and their phases") {
    withMeasure { m =>
      val r = m.window(sf)(SparkEntry.queries("s1_tumbling_window"))
      assert(r.ok)
      assert(r.metrics("batches") > 0 && r.metrics("batch_s") >= 0)
      val phases = r.metrics.keySet.filter(k => k.startsWith("batch_") && k != "batch_s")
      assert(phases.nonEmpty, s"no per-phase batch keys in ${r.metrics.keySet}")
    }
  }

  test("a query that throws reads ok = false and its tasks stay out of the next window") {
    withMeasure { m =>
      def spin(ms: Long): Unit = {
        val until = System.nanoTime() + ms * 1000 * 1000
        while (System.nanoTime() < until) {}
      }
      // one task throws; the other three spin (an interrupt does not stop
      // them) past the moment the job's failure reaches the caller, and
      // would end inside the next window, which spins longer
      val boom = udf { (i: Long) =>
        if (i == 0) throw new IllegalStateException("boom")
        spin(1000); i
      }
      val nap = udf { (i: Long) => spin(1500); i }
      val failed = m.window(sf)((s, _) => s.range(0, 4, 1, 4).select(boom(col("id"))))
      assert(!failed.ok && failed.error.isDefined)
      val next = m.window(sf)((s, _) => s.range(0, 2, 1, 2).select(nap(col("id"))))
      assert(next.ok)
      assert(next.metrics("tasks") == 2, s"the next window saw ${next.metrics("tasks")} tasks")
    }
  }

  test("idleSeconds and reduceSkew on fixed inputs") {
    // overlapping spans merge: [1000, 3000] covered, 1 s idle of 3
    assert(Measure.idleSeconds(Seq((1000L, 2500L), (2000L, 3000L)), 1000L, 4000L) == 1.0)
    // disjoint spans: 2 s covered, 2 s idle
    assert(Measure.idleSeconds(Seq((1000L, 2000L), (3000L, 4000L)), 0L, 4000L) == 2.0)
    // spans outside the window count nothing; one straddling it is clipped
    assert(Measure.idleSeconds(Seq((0L, 500L), (5000L, 6000L)), 1000L, 3000L) == 2.0)
    assert(Measure.idleSeconds(Seq((500L, 1500L)), 1000L, 3000L) == 1.5)
    assert(Measure.idleSeconds(Nil, 1000L, 3000L) == 2.0)
    // the stage with the most task seconds decides; median of an even
    // count is the upper middle
    assert(Measure.reduceSkew(Seq(Seq(1.0, 1.0, 1.0), Seq(4.0, 1.0, 2.0, 3.0))) == ((4.0, 3.0)))
    // a single-task stage: max = median
    assert(Measure.reduceSkew(Seq(Seq(2.5))) == ((2.5, 2.5)))
    assert(Measure.reduceSkew(Nil) == ((0.0, 0.0)))
  }
}
