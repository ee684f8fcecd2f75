package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-run query profile — the Spark analog of the reference engine's
  * query profile UX (Impala exposes per-operator rows/bytes/time for
  * every query, fed by its scanners' counters). [[record]] runs one
  * query build plus one action and returns where the time went:
  * construct, plan and exec seconds, every Spark job with its phase,
  * wall time and name, and Spark's per-stage executor-aggregated
  * counters, so a pipeline can assert resource
  * contracts ("this stage must not spill", "input rows == table rows")
  * the way the correctness gate asserts values.
  *
  * Mechanics: each phase runs under its own job tag. Spark copies a
  * thread's tags to the threads it starts and to the pools that run
  * broadcasts and subqueries, so a job counts wherever it runs: a
  * stream's micro-batch jobs count although StreamExecution sets its
  * own job group, the run id. Listener delivery is asynchronous, so a
  * marker job run after the action serves as the barrier: once its
  * start arrives, every earlier job's, stage's and end's has too.
  */
object QueryProfile {

  /** One completed stage's executor-aggregated counters. */
  case class StageProfile(
      stageId: Int,
      numTasks: Int,
      inputRecords: Long,
      inputBytes: Long,
      outputRecords: Long,
      shuffleReadBytes: Long,
      shuffleReadRecords: Long,
      shuffleWriteBytes: Long,
      shuffleWriteRecords: Long,
      memorySpillBytes: Long,
      diskSpillBytes: Long,
      executorRunTimeMs: Long,
      executorCpuTimeNs: Long,
      jvmGcTimeMs: Long)

  /** One Spark job: the phase it started in, its wall time from the
    * scheduler's start and end events, its stages, whether it ran in a
    * streaming micro-batch, and its name and call site — those of its
    * final stage, which Spark names a job after. */
  case class Job(id: Int, phase: String, wallS: Double, stageIds: Seq[Int],
      stream: Boolean, name: String, site: String)

  val Construct = "construct"
  val Plan = "plan"
  val Exec = "exec"

  /** One run: phase wall seconds, every job, and the completed stages
    * (skipped stages, such as reused exchanges, never complete). */
  case class Record(constructS: Double, planS: Double, execS: Double,
      jobs: Seq[Job], stages: Seq[StageProfile]) {
    def jobsIn(phase: String): Seq[Job] = jobs.filter(_.phase == phase)
    def tasks: Int = stages.map(_.numTasks).sum
    def taskRunS: Double = stages.map(_.executorRunTimeMs).sum / 1e3
    def taskCpuS: Double = stages.map(_.executorCpuTimeNs).sum / 1e9
    def taskGcS: Double = stages.map(_.jvmGcTimeMs).sum / 1e3
  }

  /** Build a DataFrame, plan it and run `action` on it, recording each
    * phase. Jobs that start while the DataFrame is built, such as an
    * eager `localCheckpoint` or a bounded stream replay, count as
    * construction. */
  def record[T](spark: SparkSession)(build: => DataFrame)(
      action: DataFrame => T): (T, Record) = {
    val sc = spark.sparkContext
    val run = s"graft-profile-${java.util.UUID.randomUUID()}"
    val marker = s"$run-marker"
    val phaseOf = Map(Seq(Construct, Plan, Exec).map(p => s"$run-$p" -> p): _*)
    // job id -> (start time in ms, the job; its wall time set at end)
    val started = TrieMap.empty[Int, (Long, Job)]
    val stages = TrieMap.empty[Int, StageProfile]
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        val props = Option(ev.properties)
        val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet)
        if (tags(marker)) markerSeen.countDown()
        else tags.collectFirst(phaseOf).foreach { phase =>
          val last = ev.stageInfos.maxByOption(_.stageId)
          started(ev.jobId) = (ev.time, Job(ev.jobId, phase, Double.NaN, ev.stageIds,
            props.exists(_.getProperty("sql.streaming.queryId") != null),
            last.fold("")(_.name), last.fold("")(_.details)))
        }
      }
      override def onJobEnd(ev: SparkListenerJobEnd): Unit =
        started.get(ev.jobId).foreach { case (t0, job) =>
          started(ev.jobId) = (t0, job.copy(wallS = (ev.time - t0) / 1e3))
        }
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        if (started.values.exists(_._2.stageIds.contains(si.stageId))) {
          val m = si.taskMetrics
          stages(si.stageId) = StageProfile(
            si.stageId, si.numTasks,
            m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
            m.outputMetrics.recordsWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten,
            m.memoryBytesSpilled, m.diskBytesSpilled,
            m.executorRunTime, m.executorCpuTime, m.jvmGCTime)
        }
      }
    }
    def timed[A](phase: String)(body: => A): (A, Double) = {
      sc.addJobTag(s"$run-$phase")
      val t0 = System.nanoTime()
      try (body, (System.nanoTime() - t0) / 1e9)
      finally sc.removeJobTag(s"$run-$phase")
    }
    sc.addSparkListener(listener)
    try {
      val (df, constructS) = timed(Construct)(build)
      val (_, planS) = timed(Plan)(df.queryExecution.executedPlan)
      val (out, execS) = timed(Exec)(action(df))
      sc.addJobTag(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(marker)
      require(markerSeen.await(60, TimeUnit.SECONDS), "profile marker job never reported")
      val jobs = started.toSeq.sortBy(_._1).map(_._2._2)
      (out, Record(constructS, planS, execS, jobs, stages.values.toSeq.sortBy(_.stageId)))
    } finally sc.removeSparkListener(listener)
  }

  /** Run `df.count()` and return (rowCount, per-stage profile). The
    * profile DataFrame is a tiny local relation (one row per stage of
    * this query) — driver-side by design, like any metrics readout. */
  def profile(df: DataFrame): (Long, DataFrame) = {
    val spark = df.sparkSession
    val (n, rec) = record(spark)(df)(_.count())
    import spark.implicits._
    (n, rec.stages.toDF())
  }
}
