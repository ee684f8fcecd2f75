package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** One benchmark run in one JVM, driving graft only through its public
  * entry points (`SparkEntry.queries`, `SparkEntry.oracleSql`).
  *
  * Closed loop: a single driver thread submits each query only after the
  * previous one has finished, on `local[cpus]` with as many shuffle
  * partitions. A run is
  *   1. set-up: from JVM start until the SparkSession is up and one
  *      untimed warm pass over the list has finished;
  *   2. `passes` timed passes over the list, each in a seed-driven order
  *      (a fixed amount of work, so every run of a workload measures the
  *      same thing);
  *   3. driver heap after full GCs;
  *   4. one untimed pass that writes each result as Parquet for the
  *      output check.
  * Every query is timed in three phases: construct (the
  * `(spark, dir) => DataFrame` call), plan (`queryExecution.executedPlan`)
  * and exec (a write to the noop sink).
  *
  * With `--trace 1`, every odd timed pass runs with a listener attached
  * that records jobs, stages and streaming progress; the passes without it
  * give the tracing overhead. Raw records go to `<out>/raw.json`; all
  * arithmetic on them is done by the Python side.
  *
  * Usage: Harness --data DIR --out DIR --queries a,b,c --seed N
  *   --passes P --trace 0|1 --cpus N --scratch-root DIR
  */
object Harness {
  final case class Opts(data: String, out: String, queries: Seq[String],
      seed: Long, passes: Int, trace: Boolean, cpus: Int, scratchRoot: String)

  /** Epoch milliseconds at nanosecond resolution, on the same epoch as
    * Spark's listener timestamps. */
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = base + (System.nanoTime() - nano0) / 1e6

  /** CPU seconds of the engine's own work: every JVM thread except the
    * JIT compiler and garbage collector threads, whose CPU time is read
    * from /proc/self/task (none of them exits: the launcher keeps the
    * compiler threads fixed in number). CPU time, unlike wall time,
    * does not grow when co-tenants of a shared host steal the CPU; leaving
    * out compilation and collection keeps the progress of JIT warm-up and
    * the timing of concurrent GC cycles out of it. */
  def cpu: Double = {
    val process = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    (process - runtimeTids.map(taskCpuNs).sum) / 1e9
  }

  private def runtimeThread(comm: String): Boolean =
    Seq("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ").exists(comm.startsWith)

  private def tasks: Seq[String] = Option(new File("/proc/self/task").list()).toSeq.flatten

  // listed on every call: the collector starts some of its threads late
  private def runtimeTids: Seq[String] =
    tasks.filter(tid => runtimeThread(readProc(s"/proc/self/task/$tid/comm")))

  /** CPU seconds of the live threads by name, digits dropped. */
  def threadCpu: Map[String, Double] =
    tasks.map { tid =>
      readProc(s"/proc/self/task/$tid/comm").replaceAll("[0-9]+", "#") -> taskCpuNs(tid) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)

  private def taskCpuNs(tid: String): Long =
    readProc(s"/proc/self/task/$tid/schedstat").split(" ").headOption
      .flatMap(_.toLongOption).getOrElse(0L)

  private def readProc(path: String): String =
    try Files.readString(Paths.get(path)).trim catch { case NonFatal(_) => "" }

  final case class QRec(id: String, name: String, traced: Boolean,
      construct: (Double, Double), plan: (Double, Double), exec: (Double, Double),
      error: String, exchanges: Int, cpuS: Double)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("data"), m("out"), m("queries").split(",").toSeq.filter(_.nonEmpty),
      m("seed").toLong, m("passes").toInt, m("trace") == "1", m("cpus").toInt,
      m("scratch-root"))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder().appName("perfbench").master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      // bounded status-store history, so the retained heap measures graft's
      // own state rather than how many executions the run happened to keep
      .config("spark.ui.retainedJobs", "50").config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Exchange nodes of a planned query, through AQE wrappers and
    * subqueries. The planned DataFrame itself never runs (the noop write
    * plans it again), so its AQE plan is the initial one, before any stage
    * is re-optimized: the count repeats exactly from run to run. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case _ =>
      val self = p match { case _: Exchange => 1; case _ => 0 }
      self + p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  def runQuery(spark: SparkSession, o: Opts, name: String, id: String,
      traced: Boolean): QRec = {
    val sc = spark.sparkContext
    def mark(phase: String): Unit =
      if (traced) sc.setLocalProperty("perfbench.span", s"$id/$phase")
    val t = Array.fill(6)(Double.NaN)
    var error: String = null
    var nx = -1
    val c0 = cpu
    t(0) = now
    try {
      mark("construct")
      val df: DataFrame = graft.SparkEntry.queries(name)(spark, o.data)
      t(1) = now; t(2) = t(1)
      mark("plan")
      val plan = df.queryExecution.executedPlan
      t(3) = now; t(4) = t(3)
      mark("exec")
      df.write.format("noop").mode("overwrite").save()
      t(5) = now
      if (traced) nx = exchanges(plan)
    } catch {
      case NonFatal(e) =>
        error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      if (traced) sc.setLocalProperty("perfbench.span", null)
    }
    QRec(id, name, traced, (t(0), t(1)), (t(2), t(3)), (t(4), t(5)), error, nx, cpu - c0)
  }

  /** Records jobs, stages, stored RDD blocks and streaming progress. */
  final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[String]()
    val jobEnds = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[String]()
    val batches = new ConcurrentLinkedQueue[String]()
    val storedRdds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

    // an RDD block stored by the block manager: a cache or checkpoint fill
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.storageLevel.isValid) b.blockId.asRDDId.foreach(r => storedRdds.add(r.rddId))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      jobs.add(Json(Map("id" -> e.jobId, "start" -> e.time.toDouble,
        "stages" -> e.stageInfos.map(_.stageId), "span" -> span,
        "site" -> last.map(_.name), "callsite" -> last.map(_.details.take(4000)))))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add(Json(Map("id" -> e.jobId, "end" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded))))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val metrics: Map[String, Any] = if (m == null) Map.empty else Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> m.diskBytesSpilled,
        "input_rows" -> m.inputMetrics.recordsRead,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "output_rows" -> m.outputMetrics.recordsWritten,
        "output_bytes" -> m.outputMetrics.bytesWritten)
      stages.add(Json(Map("id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "start" -> s.submissionTime.map(_.toDouble),
        "end" -> s.completionTime.map(_.toDouble), "tasks" -> s.numTasks,
        "failed" -> s.failureReason.isDefined) ++ metrics))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent =>
        val pr = p.progress
        val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
        val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        batches.add(Json(Map("run" -> pr.runId.toString, "batch" -> pr.batchId,
          "start" -> start, "end" -> (start + d.getOrElse("triggerExecution", 0L)),
          "durations_ms" -> d, "input_rows" -> pr.numInputRows,
          "state_rows" -> pr.stateOperators.map(_.numRowsUpdated).sum)))
      case _ =>
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def blockMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / (1 << 20)

  private def scratchEntries(o: Opts, spark: SparkSession): Set[String] =
    Option(new File(s"${o.scratchRoot}/${spark.sparkContext.applicationId}").list())
      .map(_.toSet.filterNot(_.contains("_tmp_"))).getOrElse(Set.empty)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    new File(o.out).mkdirs()
    val rng = new scala.util.Random(o.seed)
    val recs = ArrayBuffer[QRec]()
    val passes = ArrayBuffer[Map[String, Any]]()
    val recorder = new Recorder

    // 1. set-up, from JVM start: a SparkSession and one untimed warm pass
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(o)
    val sessionUpS = (now - jvmStart) / 1000
    rng.shuffle(o.queries).zipWithIndex.foreach { case (n, j) =>
      recs += runQuery(spark, o, n, s"s0.$j", traced = false)
    }
    val setupS = (now - jvmStart) / 1000
    val setupCpuS = cpu
    val jitSetupS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

    // 2. timed passes
    val sc = spark.sparkContext
    val staged0 = scratchEntries(o, spark)
    val t0 = now
    var i = 0
    while (i < o.passes) {
      // odd passes traced: with passes still speeding up as the JIT warms,
      // a traced pass between two untraced ones is a fair comparison
      val traced = o.trace && i % 2 == 1
      if (traced) sc.addSparkListener(recorder)
      val gc0 = gcMs
      val cp0 = cpu
      val p0 = now
      val order = rng.shuffle(o.queries)
      val qs = order.zipWithIndex.map { case (n, j) => runQuery(spark, o, n, s"p$i.$j", traced) }
      val p1 = now
      recs ++= qs
      var extra = Map[String, Any]()
      if (traced) {
        extra = Map("block_mb" -> blockMb(spark), "gc_s" -> (gcMs - gc0) / 1000.0)
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(recorder)
      }
      passes += Map("pass" -> i, "traced" -> traced, "start" -> p0, "end" -> p1,
        "wall_s" -> (p1 - p0) / 1000, "cpu_s" -> (cpu - cp0), "order" -> order) ++ extra
      i += 1
    }
    val timedEnd = now
    val stagedNew = (scratchEntries(o, spark) -- staged0).size

    // 3. retained heap; the pauses let the ContextCleaner drop the blocks
    // of broadcasts and shuffles that the first collections found unreachable
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble / (1 << 20)

    // 4. output pass
    val checkErrors = o.queries.flatMap { n =>
      try {
        graft.SparkEntry.queries(n)(spark, o.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${o.out}/results/$n")
        None
      } catch {
        case NonFatal(e) => Some(n -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }.toMap
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => o.queries.contains(k) }

    def q(r: QRec): Map[String, Any] = Map("id" -> r.id, "name" -> r.name,
      "traced" -> r.traced, "construct" -> Seq(r.construct._1, r.construct._2),
      "plan" -> Seq(r.plan._1, r.plan._2), "exec" -> Seq(r.exec._1, r.exec._2),
      "error" -> Option(r.error), "exchanges" -> r.exchanges, "cpu_s" -> r.cpuS)
    val env = Map("spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "jvm_cpus" -> Runtime.getRuntime.availableProcessors, "local_n" -> o.cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "seed" -> o.seed)
    val body = Seq(
      "env" -> Json(env), "setup_s" -> Json(setupS), "setup_cpu_s" -> Json(setupCpuS),
      "session_up_s" -> Json(sessionUpS), "jit_setup_s" -> Json(jitSetupS),
      "timed" -> Json(Seq(t0, timedEnd)), "staging_builds" -> Json(stagedNew),
      "heap_retained_mb" -> Json(heapMb), "thread_cpu_s" -> Json(threadCpu),
      "app_id" -> Json(spark.sparkContext.applicationId),
      "check_errors" -> Json(checkErrors), "oracle_sql" -> Json(oracle),
      "passes" -> passes.map(Json(_)).mkString("[", ",\n", "]"),
      "queries" -> recs.map(r => Json(q(r))).mkString("[", ",\n", "]"),
      "jobs" -> recorder.jobs.asScala.mkString("[", ",\n", "]"),
      "job_ends" -> recorder.jobEnds.asScala.mkString("[", ",\n", "]"),
      "stages" -> recorder.stages.asScala.mkString("[", ",\n", "]"),
      "batches" -> recorder.batches.asScala.mkString("[", ",\n", "]"),
      "stored_rdds" -> Json(recorder.storedRdds.asScala.toSeq.sorted))
    spark.stop()
    Files.writeString(Paths.get(s"${o.out}/raw.json"),
      body.map { case (k, v) => s"${Json(k)}: $v" }.mkString("{\n", ",\n", "\n}\n"))
    System.exit(0)
  }
}

/** Minimal JSON encoder for the raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
