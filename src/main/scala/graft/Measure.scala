package graft

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The measurement window every harness (Bench, Scale, Lab) times a query
  * with. Installed once per session, it listens on the Spark listener bus
  * (jobs, stages, tasks), the SQL listener (planning phases and the
  * AQE-final plan of every execution) and the streaming listener — the
  * Spark-native analogue of the reference's listener bus for block and
  * shuffle events (`scheduler/ScacheListener.scala:24-106`).
  *
  * A [[window]] runs one query into the noop sink and returns its wall
  * seconds plus one flat record of what the session did meanwhile, split
  * into the phases the paper states its result in (map-side shuffle
  * write, reduce-side fetch wait, the reduce stage) beside planning,
  * codegen, GC and the AQE decisions. Triage from the record: elapsed up
  * + `gc` up + shuffle flat = session GC; elapsed up + shuffle up = the
  * plan moves more data; all flat = host noise. */
final class Measure private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import Measure._

  /** What the session did since the last [[take]]. Listener threads add
    * to it; the window reads it only after draining the bus. */
  private final class Acc {
    val n = mutable.Map[String, Double]().withDefaultValue(0.0)
    /** (launch, finish) epoch millis of every task. */
    val taskSpans = ArrayBuffer[(Long, Long)]()
    /** stage id -> task seconds, for stages that read a shuffle. */
    val reduceStages = mutable.Map[Int, ArrayBuffer[Double]]()
    var lastExecution: Option[QueryExecution] = None
  }
  private var cur = new Acc
  /** Ids of tasks started and not yet ended, across windows. */
  private val running = mutable.Set[Long]()
  private var drainWarned = false

  private def take(): Acc = synchronized { val a = cur; cur = new Acc; a }
  private def add(k: String, v: Double): Unit = cur.n(k) += v

  /** Run `fn(spark, dir)` into the noop sink. The frame is built inside the
    * timed span (registry functions run eager jobs of their own). The noop
    * sink materializes every output row as planned, where count() would
    * let the optimizer prune projections and eliminate sorts. The bus is
    * drained before the clock starts and after it stops, so neither the
    * drain nor the listener's plan walk is in `seconds`. */
  def window(dir: String)(fn: (SparkSession, String) => DataFrame): Record = {
    settle(); take()
    val gc0 = gcTimeMs
    val cg0 = CodeGenerator.compileTime
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var frame: Option[DataFrame] = None
    val error = try {
      val df = fn(spark, dir)
      frame = Some(df)
      df.write.mode("overwrite").format("noop").save()
      None
    } catch { case e: Throwable => Some(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val to = System.currentTimeMillis()
    val gc = (gcTimeMs - gc0) / 1e3
    val codegen = (CodeGenerator.compileTime - cg0) / 1e9
    settle()
    val a = take()
    val (reduceMax, reduceMedian) = reduceSkew(a.reduceStages.values.map(_.toSeq))
    Record(seconds,
      Zero ++ a.n ++ Map("gc" -> gc, "codegen_s" -> codegen,
        "no_task_s" -> idleSeconds(a.taskSpans.toSeq, from, to),
        "reduce_max_s" -> reduceMax, "reduce_median_s" -> reduceMedian),
      error, frame, a.lastExecution)
  }

  /** Drain the bus until every task that started has ended: the tasks a
    * failed query's job kills can end after its exception reaches the
    * caller, and must not land in the next window. A task still running
    * at the deadline is reported and forgotten, so a dropped task-end
    * event stalls one window, not every later one. */
  private def settle(): Unit = {
    val deadline = System.nanoTime() + SettleTimeoutNs
    while (drain() && synchronized(running.nonEmpty))
      if (System.nanoTime() < deadline) Thread.sleep(10)
      else synchronized {
        System.err.println(s"[measure] WARNING ${running.size} task(s) " +
          "still running at the window boundary; their metrics may land in the next window")
        running.clear()
      }
  }

  /** One warning on the first failed drain, then silent: a broken bridge
    * degrades every window to cross-query bleed, which must show in the
    * log rather than in confusing per-query maps. */
  private def drain(): Boolean =
    try { GraftListenerBridge.drainListenerEvents(spark.sparkContext); true }
    catch { case t: Throwable =>
      if (!drainWarned) {
        drainWarned = true
        System.err.println("[measure] WARNING listener drain failed — " +
          s"per-query attribution degraded: $t")
      }
      false
    }

  /** Remove every listener this measure installed. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(add("jobs", 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add("stages", 1))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    synchronized(running += e.taskInfo.taskId): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    running -= e.taskInfo.taskId
    add("tasks", 1)
    cur.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      add("task_s", m.executorRunTime / 1e3)
      add("cpu_s", m.executorCpuTime / 1e9)
      add("spill", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      val w = m.shuffleWriteMetrics
      add("shuffle_write", w.bytesWritten.toDouble)
      add("shuffle_write_s", w.writeTime / 1e9)
      val r = m.shuffleReadMetrics
      add("shuffle_read", r.totalBytesRead.toDouble)
      add("fetch_wait_s", r.fetchWaitTime / 1e3)
      if (r.totalBlocksFetched > 0)
        cur.reduceStages.getOrElseUpdate(e.stageId, ArrayBuffer()) +=
          m.executorRunTime / 1e3
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    var coalesced, splits, bhjFinal, bhjInitial = 0
    def walk(p: SparkPlan, initial: Boolean): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec =>
          walk(a.initialPlan, initial = true); walk(a.executedPlan, initial)
        case s: QueryStageExec => walk(s.plan, initial)
        case r: AQEShuffleReadExec =>
          if (r.hasCoalescedPartition) coalesced += 1
          splits += r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
        case _: BroadcastHashJoinExec =>
          if (initial) bhjInitial += 1 else bhjFinal += 1
        case _ =>
      }
      p.children.foreach(walk(_, initial))
      p.subqueries.foreach(walk(_, initial))
    }
    try walk(qe.executedPlan, initial = false) catch { case _: Throwable => }
    synchronized {
      add("plan_s", planMs / 1e3)
      add("aqe_coalesced", coalesced)
      add("aqe_skew_splits", splits)
      add("aqe_broadcast_switches", math.max(0, bhjFinal - bhjInitial))
      cur.lastExecution = Some(qe)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Each micro-batch's seconds, in total and per `durationMs` phase
    * (`batch_addBatch_s`, `batch_queryPlanning_s`, ...). */
  private val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Measure.this.synchronized {
        add("batches", 1)
        add("batch_s", e.progress.batchDuration / 1e3)
        e.progress.durationMs.asScala.foreach { case (phase, ms) =>
          add(s"batch_${phase}_s", ms / 1e3)
        }
      }
  }
}

object Measure {
  /** One window: `error` is what building or running the query threw.
    * `frame` is the built query and `executed` the last SQL execution of
    * the window — the noop write's, whose plan is AQE-final where the
    * frame's own `queryExecution.executedPlan` is not. */
  final case class Record(seconds: Double, metrics: Map[String, Double],
      error: Option[Throwable], frame: Option[DataFrame],
      executed: Option[QueryExecution]) {
    def ok: Boolean = error.isEmpty
  }

  /** The keys every record carries, 0 when the window saw none. Bytes:
    * `shuffle_read`, `shuffle_write`, `spill`; seconds: `gc` and the `_s`
    * keys; the rest are counts. Streaming windows add `batch_<phase>_s`. */
  val Keys: Seq[String] = Seq("gc", "shuffle_read", "shuffle_write", "spill",
    "codegen_s", "plan_s", "jobs", "stages", "tasks", "task_s", "cpu_s",
    "shuffle_write_s", "fetch_wait_s", "no_task_s", "reduce_max_s",
    "reduce_median_s", "aqe_coalesced", "aqe_skew_splits",
    "aqe_broadcast_switches", "batches", "batch_s")
  private val Zero = Keys.map(_ -> 0.0).toMap
  private val SettleTimeoutNs = 10L * 1000 * 1000 * 1000

  /** Install a measure on `spark`'s listener buses. */
  def install(spark: SparkSession): Measure = {
    val m = new Measure(spark)
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    spark.streams.addListener(m.streams)
    m
  }

  /** Cumulative stop-the-world GC millis across all collectors. */
  private def gcTimeMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Seconds of [from, to] (epoch millis) covered by no task. */
  def idleSeconds(spans: Seq[(Long, Long)], from: Long, to: Long): Double = {
    var covered = 0L
    var end = from
    spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    math.max(0L, to - from - covered) / 1e3
  }

  /** (max, median) task seconds of the reduce stage with the most task
    * seconds; (0, 0) when no stage read a shuffle. */
  def reduceSkew(stages: Iterable[Seq[Double]]): (Double, Double) =
    if (stages.isEmpty) (0.0, 0.0)
    else {
      val worst = stages.maxBy(_.sum).sorted
      (worst.last, worst(worst.size / 2))
    }

  /** A metric as a JSON number: whole values (counts, bytes) print
    * without a fraction. */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** `"k":v` pairs of `metrics`, sorted by key, comma-separated. */
  def fields(metrics: Map[String, Double]): String =
    metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString(",")
}
