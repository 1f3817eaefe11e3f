package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerBridge, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.LogicalRDD

import graft.{Catalog, Engine, SparkEntry}
import graft.operators.WeightedKeyPartitioner
import graft.sources.BlockStore

/** One benchmark run of one workload in one JVM.
  *
  * Set-up (session + data contract on the generated input `--input`)
  * runs once and is timed from JVM start. Then `--warmups` untimed passes run
  * (the first writes every query's output for the oracle check), then
  * timed passes until `--seconds` have been measured and at least
  * `--min-timed` have run. Every pass reads its own fresh copy of the
  * input, so per-input memos and landed artifacts are rebuilt inside the
  * pass that uses them. Each query is built (the registry function) and
  * executed into the noop sink; a [[Probe]] on the session records what
  * each query did. The raw record goes to `--out` as JSON; `run.py` turns
  * it into metrics.
  *
  * Usage: perfbench.Main --workload W --queries a,b,c --input DIR --work DIR
  *   --out FILE --slots N --seconds S --warmups W
  *   --min-timed T --trace 0|1
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val queries = arg("queries").split(",").toSeq
    val input = Paths.get(arg("input"))
    val work = Paths.get(arg("work"))
    val slots = arg("slots").toInt
    val seconds = arg("seconds").toDouble
    val warmups = arg("warmups").toInt
    val minTimed = arg("min-timed").toInt
    val trace = arg("trace") == "1"
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val clock = new Clock
    // traced mode: spans of the run, passes, queries and their build and
    // execute phases (nested by `open`), plus job and stage spans from the
    // listener timestamps
    val spans = ArrayBuffer[Map[String, Any]]()
    var open = List.empty[Int]
    def span[T](kind: String, name: String, start: Double = clock.ms)(f: => T): T =
      if (!trace) f
      else {
        val id = spans.size
        spans += null
        val parent = open.headOption.getOrElse(-1)
        open = id :: open
        try f finally {
          open = open.tail
          spans(id) = Map("id" -> id, "parent" -> parent, "kind" -> kind,
            "name" -> name, "start_ms" -> start, "end_ms" -> clock.ms)
        }
      }

    // ---- set-up: session + data contract, from JVM start. The contract
    // reads the generated input itself; no pass reads that directory ----
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = Engine.configure(
      SparkSession.builder().master(s"local[$slots]")
        .config("spark.sql.shuffle.partitions", slots.toString)
        .config("spark.local.dir", work.resolve("local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString),
      "perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c0 = clock.ms
    Catalog.assertDataContract(spark, input.toString)
    val setupEnd = clock.ms
    val setup = Map("s" -> (setupEnd - jvmStart) / 1e3, "contract_s" -> (setupEnd - c0) / 1e3)

    var copies = 0
    def freshCopy(): String = {
      copies += 1
      val dst = work.resolve(s"in/$copies")
      Files.walk(input).iterator.asScala.foreach { p =>
        val q = dst.resolve(input.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
      }
      dst.toString
    }

    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    spark.streams.addListener(probe.streams)
    def drain(): Window = {
      GraftListenerBridge.drainListenerEvents(sc)
      probe.take()
    }

    val mx = ManagementFactory.getMemoryMXBean
    val threads = ManagementFactory.getThreadMXBean
    val classes = ManagementFactory.getClassLoadingMXBean
    val jit = ManagementFactory.getCompilationMXBean
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def stealSeconds: Double = try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      f(8).toDouble / 100
    } catch { case _: Throwable => 0.0 }
    // The JIT compiler threads, which the JVM keeps for its whole life
    // (run.py turns dynamic compiler threads off). Their CPU time is the
    // JVM's cost of warming up, not the workload's.
    val compilerThreads = Files.list(Paths.get("/proc/self/task")).iterator.asScala
      .filter(t => Files.readString(t.resolve("comm")).matches("C[12] CompilerThre.*\\s*"))
      .map(_.resolve("stat")).toList
    def compilerCpuSeconds: Double = compilerThreads.map { stat =>
      // utime and stime, in clock ticks (100 a second), follow the
      // parenthesised thread name as the 12th and 13th fields
      val f = Files.readString(stat).split("\\) ", 2)(1).split(" ")
      (f(11).toLong + f(12).toLong) / 100.0
    }.sum
    /** CPU seconds of every thread of this JVM but the JIT compiler's. The
      * kernel books time a shared VM host steals from this machine as
      * steal, so it counts in these far less than in wall-clock time. */
    def engineCpuSeconds: Double = osBean.getProcessCpuTime / 1e9 - compilerCpuSeconds
    def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    def blockStoreCounters: (Long, Long) =
      (BlockStore.demotions.get, BlockStore.diskReads.get)

    val checkDir = work.resolve("check")
    val checks = ArrayBuffer[Map[String, Any]]()
    val passes = ArrayBuffer[Map[String, Any]]()

    def runPass(idx: Int, timed: Boolean, writeOutputs: Boolean): Double = {
      val dir = freshCopy()
      System.gc()
      drain()
      val jit0 = jit.getTotalCompilationTime
      val cl0 = classes.getTotalLoadedClassCount
      val (dem0, disk0) = blockStoreCounters
      threads.resetPeakThreadCount()
      val st0 = stealSeconds
      val recs = ArrayBuffer[Map[String, Any]]()
      span("pass", s"${if (timed) "timed" else "warmup"}-$idx") {
        // a fixed order: which query of a pass first builds a shared
        // per-input artifact (the docs block store, say) must not change
        // with the seed
        queries.foreach { name =>
          val fn = SparkEntry.queries(name)
          val cg0 = CodeGenerator.compileTime
          val gcq0 = gcSeconds
          val pc0 = osBean.getProcessCpuTime
          val ec0 = engineCpuSeconds
          var df: DataFrame = null
          val q0 = clock.ms
          var b1 = 0.0
          val querySpan = spans.size
          val ok = try {
            span("query", name) {
              span("build", name) { df = fn(spark, dir) }
              b1 = clock.ms
              span("execute", name) {
                if (writeOutputs) df.write.mode("overwrite").parquet(checkDir.resolve(name).toString)
                else df.write.mode("overwrite").format("noop").save()
              }
            }
            true
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            false
          }
          val q1 = clock.ms
          val w = drain()
          if (writeOutputs && ok && name == "w1_weighted_shuffle")
            checks += weightedBins(df)
          val (skew, skewStageS) = Probe.reduceSkew(w.reduceStages.values.map(_.toSeq))
          recs += w.n.toMap ++ Map(
            "name" -> name, "ok" -> ok,
            "s" -> (q1 - q0) / 1e3, "build_s" -> (b1 - q0) / 1e3, "exec_s" -> (q1 - b1) / 1e3,
            "no_task_s" -> Probe.idleSeconds(w.taskSpans.toSeq, q0.toLong, q1.toLong),
            "codegen_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
            "gc_s" -> (gcSeconds - gcq0),
            "proc_cpu_s" -> (osBean.getProcessCpuTime - pc0) / 1e9,
            "engine_cpu_s" -> (engineCpuSeconds - ec0),
            "reduce_skew" -> skew, "reduce_stage_s" -> skewStageS)
          // a job belongs to the build phase (the registry function, span
          // querySpan + 1) or to the execute phase (+ 2); a stage to its job
          if (trace) {
            val jobSpan = mutable.Map[Int, Int]()
            w.spans.sortBy(_._1 != "job").foreach { case (kind, id, a, b, job) =>
              val phase = if (!ok) querySpan else querySpan + (if (a < b1) 1 else 2)
              if (kind == "job") jobSpan(id) = spans.size
              spans += Map("id" -> spans.size,
                "parent" -> (if (kind == "stage") jobSpan.getOrElse(job, phase) else phase),
                "kind" -> kind, "name" -> s"$name/$kind-$id",
                "start_ms" -> a.toDouble, "end_ms" -> b.toDouble)
            }
          }
        }
      }
      val passS = recs.map(_("s").asInstanceOf[Double]).sum
      val (dem1, disk1) = blockStoreCounters
      val stores = BlockStore.storeNames
      passes += Map(
        "index" -> idx, "timed" -> timed, "s" -> passS,
        "steal_s" -> (stealSeconds - st0),
        "proc_cpu_s" -> recs.map(_("proc_cpu_s").asInstanceOf[Double]).sum,
        "engine_cpu_s" -> recs.map(_("engine_cpu_s").asInstanceOf[Double]).sum,
        "compiler_threads" -> compilerThreads.size,
        "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
        "classes_loaded" -> (classes.getTotalLoadedClassCount - cl0),
        "threads_peak" -> threads.getPeakThreadCount,
        "blockstore_blocks" -> stores.map(BlockStore.blockCount).sum,
        "blockstore_memory_mb" -> BlockStore.memoryUsed / 1e6,
        "blockstore_demotions" -> (dem1 - dem0), "blockstore_disk_reads" -> (disk1 - disk0),
        "persisted_mb" -> sc.getRDDStorageInfo.map(_.memSize).sum / 1e6,
        "queries" -> recs.toSeq)
      passS
    }

    span("run", arg("workload"), jvmStart) {
      for (i <- 0 until warmups) runPass(i, timed = false, writeOutputs = i == 0)
      var measured = 0.0
      var idx = 0
      while (measured < seconds || idx < minTimed) {
        measured += runPass(idx, timed = true, writeOutputs = false)
        idx += 1
      }
    }
    System.gc(); System.gc()
    val liveHeapMb = mx.getHeapMemoryUsage.getUsed / 1e6
    val tmpBase = sys.env.get("SPARK_GRAFT_TMPDIR").map(Paths.get(_))
    val tmpDirs = tmpBase.filter(Files.isDirectory(_))
      .map(b => Files.list(b).iterator.asScala.count(_.getFileName.toString.startsWith("graft-")))
      .getOrElse(0)
    val shutdownHooks = try {
      val f = Class.forName("java.lang.ApplicationShutdownHooks").getDeclaredField("hooks")
      f.setAccessible(true)
      f.get(null).asInstanceOf[java.util.Map[_, _]].size
    } catch { case _: Throwable => -1 }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    val result = Map(
      "workload" -> arg("workload"), "slots" -> slots,
      "order" -> queries, "setup" -> setup, "passes" -> passes.toSeq,
      "live_heap_mb" -> liveHeapMb, "tmp_dirs" -> tmpDirs, "shutdown_hooks" -> shutdownHooks,
      "checks" -> checks.toSeq, "oracles" -> oracles, "spans" -> spans.toSeq)
    Files.writeString(Paths.get(arg("out")), Json(result))
    spark.stop()
  }

  /** The key -> bin assignment of the partitioner the w1 query actually
    * shuffled with, for every key in its output. */
  private def weightedBins(df: DataFrame): Map[String, Any] = {
    def find(rdd: RDD[_]): Option[WeightedKeyPartitioner] =
      rdd.dependencies.iterator.map {
        case s: ShuffleDependency[_, _, _] =>
          s.partitioner match {
            case w: WeightedKeyPartitioner => Some(w)
            case _ => find(s.rdd)
          }
        case d => find(d.rdd)
      }.collectFirst { case Some(w) => w }
    val part = df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      .flatMap(find)
      .getOrElse(throw new IllegalStateException("w1: no WeightedKeyPartitioner in lineage"))
    val bins = df.select("skey").collect().map(_.getLong(0))
      .map(k => k.toString -> part.getPartition(k)).toMap
    Map("name" -> "w1_bins", "num_bins" -> part.numPartitions, "bins" -> bins)
  }
}

/** Milliseconds since the epoch, at nanosecond resolution. */
final class Clock {
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = base + (System.nanoTime() - nano0) / 1e6
}

/** Minimal JSON rendering of maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
