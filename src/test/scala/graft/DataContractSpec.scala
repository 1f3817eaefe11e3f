package graft

import org.apache.spark.sql.functions._

/** The r9 failure mode, made loud: Spark silently reads a re-encoded parquet
  * column through a stale user schema and produces garbage with zero errors.
  * [[Catalog.assertDataContract]] must catch that drift at Verify/Bench
  * startup with one precise message instead of 15 red oracle rows.
  */
class DataContractSpec extends SparkSpec {

  test("guard passes on the real testdata") {
    Catalog.assertDataContract(spark, sf) // must not throw
  }

  test("guard fails loudly on a drifted fixture, naming the table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-contract").toString
    // clone the tiny sf0.001 tables, then re-encode events.ts back to the
    // pre-r9 raw INT64 — exactly the drift that went silent last round
    Catalog.schemas.keys.foreach { name =>
      val df = spark.read.parquet(s"$sf/$name.parquet")
      val out =
        if (name == "events")
          df.withColumn("ts", unix_micros(col("ts").cast("timestamp")))
        else df
      out.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    val e = intercept[IllegalStateException] {
      Catalog.assertDataContract(spark, dir)
    }
    assert(e.getMessage.contains("DATA CONTRACT DRIFT"))
    assert(e.getMessage.contains("events"))
    // only events drifted — the other nine tables must not be named
    assert(!e.getMessage.contains("lineitem"))
  }

  test("guard fails loudly on an unreadable table path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-missing").toString
    val e = intercept[IllegalStateException] {
      Catalog.assertDataContract(spark, dir)
    }
    assert(e.getMessage.contains("unreadable"))
  }

  test("temp dirs share one JVM-wide base: N calls add at most one shutdown hook") {
    def hooks: Int = {
      val f = Class.forName("java.lang.ApplicationShutdownHooks").getDeclaredField("hooks")
      f.setAccessible(true)
      f.get(null).asInstanceOf[java.util.Map[_, _]].size
    }
    val before = hooks
    val dirs = (1 to 8).map(i => Catalog.tempDirWithCleanup(s"graft-hooks-$i"))
    assert(hooks - before <= 1)
    assert(dirs.distinct.size == 8 && dirs.forall(java.nio.file.Files.isDirectory(_)))
    assert(dirs.map(_.getParent).distinct.size == 1)
  }

  test("the status store keeps a bounded number of SQL executions over a long session") {
    // Engine.configure caps spark.sql.ui.retainedExecutions; past the cap,
    // each new execution's UI record evicts an old one
    val cap = spark.sparkContext.getConf.get("spark.sql.ui.retainedExecutions").toInt
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    (1 to 3 * cap).foreach(i => spark.range(i).selectExpr("sum(id)").collect())
    org.apache.spark.GraftListenerBridge.drainListenerEvents(spark.sparkContext)
    // eviction runs on the store's own thread after the listener event
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (store.executionsCount() > cap && System.nanoTime() < deadline) Thread.sleep(50)
    assert(store.executionsCount() <= cap,
      s"${store.executionsCount()} SQL executions retained, cap $cap")
  }
}
