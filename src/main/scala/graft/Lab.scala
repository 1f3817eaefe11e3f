package graft

import org.apache.spark.sql.execution.FormattedMode

/** Diagnostics main: measure named registry queries through the bench's
  * window, in one session, over any dir (a testdata dir or a Scale
  * blow-up dir).
  *
  * Usage: `runMain graft.Lab <dir> <runs> <name>[,<name>...]`
  *
  * Each run prints one JSON line: the query, the run, `ok`, `sec` and the
  * [[Measure]] record (streaming queries carry their per-micro-batch
  * `batch_<phase>_s`). After a query's last run come its formatted plan
  * and the AQE-final plan of that run's noop write, taken from the
  * window's last execution: the frame's own `queryExecution.executedPlan`
  * is never executed by the write, so it shows no runtime decision. A
  * query that throws prints its stack trace; the next name runs. */
object Lab {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.Lab <dir> <runs> <name>[,<name>...]")
    val dir = args(0)
    val runs = args(1).toInt
    val names = args(2).split(",").map(_.trim).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session("graft-lab", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    try spark.range(1000).selectExpr("sum(id)").collect()
    catch { case _: Throwable => }
    val measure = Measure.install(spark)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var last: Option[Measure.Record] = None
      var run = 1
      while (run <= runs && last.forall(_.ok)) {
        val r = measure.window(dir)(fn)
        println(s"""{"name":"$name","run":$run,"ok":${r.ok},"sec":${r.seconds},""" +
          Measure.fields(r.metrics) + "}")
        r.error.foreach(_.printStackTrace(System.out))
        last = Some(r)
        run += 1
        System.gc()
      }
      last.filter(_.ok).foreach { r =>
        println(s"== $name: formatted plan ==")
        r.frame.foreach(df => println(df.queryExecution.explainString(FormattedMode)))
        println(s"== $name: executed (AQE-final) plan of the noop write ==")
        println(r.executed.fold("<none captured>")(_.executedPlan.toString))
      }
    }
    spark.stop()
  }
}
