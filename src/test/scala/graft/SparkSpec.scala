package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Engine.configure(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4"),
      "graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // Several specs assert EXPECTED task failures (vacuumed-version and
    // fence-generation reads must throw; CrashConsistencySpec's aborting
    // job) — each such failure prints a full executor/scheduler stack
    // wall at ERROR, burying anything a human scans the 198-test log for.
    // Silence just those two chatty loggers; real failures still surface
    // as assertion messages with the thrown cause.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.executor.Executor",
      org.apache.logging.log4j.Level.FATAL)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.TaskSetManager",
      org.apache.logging.log4j.Level.FATAL)
    // ...and the execution-listener bus, which only ever logs LISTENER
    // callback exceptions: a prior spec's Observation listener on the
    // shared session rethrows when later specs' expected-failure reads
    // poke it (10 stack walls from DataContractSpec's missing-dir test).
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.util.ExecutionListenerBus",
      org.apache.logging.log4j.Level.FATAL)
    // ...and the V2 write path's abort walls (DataWritingSparkTask,
    // OverwriteByExpressionExec) for ListenerTelemetrySpec's expected
    // failing noop write
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.datasources.v2",
      org.apache.logging.log4j.Level.FATAL)
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"
}
