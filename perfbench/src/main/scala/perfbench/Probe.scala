package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.PartialReducerPartitionSpec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the session did between two drains of the listener bus: one
  * query's jobs, stages, tasks, plans and micro-batches. Listener threads
  * add to it; the benchmark thread reads it only after a drain. */
final class Window {
  val n = mutable.Map[String, Double]().withDefaultValue(0.0)
  /** (launch, finish) epoch millis of every task. */
  val taskSpans = ArrayBuffer[(Long, Long)]()
  /** stage id -> task seconds, for stages that read a shuffle. */
  val reduceStages = mutable.Map[Int, ArrayBuffer[Double]]()
  /** (kind, id, start, end, job) of jobs and stages: epoch millis, and
    * for a stage the id of the job that submitted it (-1 for a job). */
  val spans = ArrayBuffer[(String, Int, Long, Long, Int)]()
}

/** Listens on the session from outside the engine: the Spark listener bus
  * (jobs, stages, tasks), the SQL listener (planning phases and the
  * AQE-final plan of every execution) and the streaming listener. */
final class Probe extends SparkListener with QueryExecutionListener {
  private var cur = new Window
  private val jobStart = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()

  /** Hand back everything recorded since the last call; the caller drains
    * the listener bus first. */
  def take(): Window = synchronized { val w = cur; cur = new Window; w }

  private def add(k: String, v: Double): Unit = cur.n(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1); jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => cur.spans += (("job", e.jobId, t, e.time, -1)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    add("stages", 1)
    val job = stageJob.remove(s.stageId).getOrElse(-1)
    for (a <- s.submissionTime; b <- s.completionTime)
      cur.spans += (("stage", s.stageId, a, b, job))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    add("tasks", 1)
    cur.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    if (m != null) {
      add("task_s", m.executorRunTime / 1e3)
      add("cpu_s", m.executorCpuTime / 1e9)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("input_rows", m.inputMetrics.recordsRead.toDouble)
      val w = m.shuffleWriteMetrics
      add("shuffle_write_bytes", w.bytesWritten.toDouble)
      add("shuffle_write_records", w.recordsWritten.toDouble)
      add("shuffle_write_s", w.writeTime / 1e9)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      val r = m.shuffleReadMetrics
      add("shuffle_read_bytes", r.totalBytesRead.toDouble)
      if (r.totalBlocksFetched > 0) {
        add("reduce_tasks", 1)
        cur.reduceStages.getOrElseUpdate(e.stageId, ArrayBuffer()) +=
          m.executorRunTime / 1e3
      }
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
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        add("batches", 1)
        add("batch_s", e.progress.batchDuration / 1e3)
        add("stream_rows", e.progress.numInputRows.toDouble)
      }
  }
}

object Probe {
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

  /** max / median task seconds in the reduce stage with the most task
    * seconds, and that stage's task seconds; (1, 0) when no stage has two
    * tasks. */
  def reduceSkew(stages: Iterable[Seq[Double]]): (Double, Double) = {
    val multi = stages.filter(_.size >= 2)
    if (multi.isEmpty) (1.0, 0.0)
    else {
      val worst = multi.maxBy(_.sum).sorted
      val median = worst(worst.size / 2)
      (if (median > 0) worst.last / median else 1.0, worst.sum)
    }
  }
}
