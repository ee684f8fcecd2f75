package graft.dev

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftFunctions, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

import graft.operators.QueryProfile

/** Developer probe over the registered queries — not part of the
  * library surface.
  *
  * {{{
  * graft.dev.Probe trace [k=v …] [query …]
  * graft.dev.Probe ab    [k=v …] query …
  * graft.dev.Probe plan  [k=v …] [--out DIR] [query …]
  * }}}
  *
  * One session runs `local[SPARK_GRAFT_CPUS]` (default 4) with as many
  * shuffle partitions, and queries read `SPARK_GRAFT_SF_DIR`. The
  * `k=v` confs go onto a [[GraftFunctions.childSession]]: trace and
  * plan run there, and so does ab's B side. With no query named,
  * trace and plan run every registered query.
  *
  *  - trace: a warm build and run, then one recorded by
  *    [[QueryProfile.record]]: the construct/plan/exec split, every
  *    job, and per-stage input, shuffle and spill; last, how many
  *    state-store providers are still loaded, in all and under the
  *    stream replays' checkpoint dirs.
  *  - ab: warms A (the query as registered) and B (the same query on
  *    the child session), then runs ten interleaved pairs A,B and
  *    prints each pair's B/A and the median. Timings across sessions
  *    on a contended host cannot support keep/revert calls; per-pair
  *    ratios in one session cancel ambient drift to first order.
  *  - plan: `Bench.planFingerprint`, the physical joins, and flags for
  *    CartesianProduct, InMemoryTableScan and a broadcast nested-loop
  *    join whose build side is unbounded; with `--out`, the string the
  *    fingerprint hashes (`Bench.canonicalPlan`) goes to
  *    DIR/<query>.txt.
  */
object Probe {
  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <trace|ab|plan> [k=v ...] [--out DIR] [query ...]"
    require(args.nonEmpty, usage)
    val (opts, rest) = args.tail.toSeq.partition(_.contains("="))
    val at = rest.indexOf("--out")
    val out = if (at < 0) None else Some(rest(at + 1))
    val names = if (at < 0) rest else rest.patch(at, Nil, 2)
    val confs = opts.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to a generated data dir"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val session = if (confs.isEmpty) spark else GraftFunctions.childSession(spark, confs: _*)
    val queries = if (names.nonEmpty) names.map(n => n -> graft.SparkEntry.queries(n))
      else graft.SparkEntry.queries.toSeq.sortBy(_._1)
    try args.head match {
      case "trace" => each(queries)((n, q) => trace(session, dir, cpus.toInt, n, q))
      case "ab" =>
        require(names.nonEmpty, usage)
        queries.foreach { case (n, q) => ab(spark, session, dir, confs, n, q) }
      case "plan" => each(queries)((n, q) => plan(session, dir, out, n, q))
      case _ => throw new IllegalArgumentException(usage)
    } finally spark.stop()
  }

  /** Run `f` per query; a failing query prints and the sweep goes on. */
  private def each(queries: Seq[(String, Query)])(f: (String, Query) => Unit): Unit =
    queries.foreach { case (n, q) =>
      try f(n, q)
      catch { case NonFatal(e) => println(s"[probe] $n ERROR ${String.valueOf(e.getMessage).take(120)}") }
    }

  private def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def trace(spark: SparkSession, dir: String, cores: Int, name: String, q: Query): Unit = {
    run(q(spark, dir)) // warm: codegen, staging
    val (_, r) = QueryProfile.record(spark)(q(spark, dir))(run)
    import QueryProfile.{Construct, Exec, Plan}
    def n(phase: String) = r.jobsIn(phase).size
    println(f"[trace] $name wall=${r.constructS + r.planS + r.execS}%.3f s " +
      f"construct=${r.constructS}%.3f plan=${r.planS}%.3f exec=${r.execS}%.3f")
    println(f"[trace]   jobs=${r.jobs.size} (construct ${n(Construct)}, plan ${n(Plan)}, " +
      f"exec ${n(Exec)}; ${r.jobs.count(_.stream)} in micro-batches) " +
      f"stages=${r.stages.size} tasks=${r.tasks} task run=${r.taskRunS}%.3f " +
      f"cpu=${r.taskCpuS}%.3f gc=${r.taskGcS}%.3f s, run/cores=${r.taskRunS / cores}%.3f s")
    r.jobs.foreach { j =>
      println(f"[trace]   job ${j.id}%5d ${j.phase}%-9s ${j.wallS * 1e3}%8.1f ms" +
        s"${if (j.stream) " stream" else ""}  ${j.name.take(100)}")
    }
    r.stages.foreach { s =>
      println(f"[trace]   stage ${s.stageId}%5d tasks=${s.numTasks}%4d " +
        f"in=${s.inputRecords} rows/${s.inputBytes} B " +
        f"shuffle r/w=${s.shuffleReadBytes}/${s.shuffleWriteBytes} B " +
        f"spill=${s.memorySpillBytes + s.diskSpillBytes} B run=${s.executorRunTimeMs} ms")
    }
    // what the query left behind: a finished replay leaves no state store
    println(s"[trace]   state stores still loaded: ${GraftFunctions.loadedStateStores().size} " +
      s"(${graft.streaming.StreamQueries.replayStateStores().size} under replay checkpoints)")
  }

  private def ab(a: SparkSession, b: SparkSession, dir: String,
      confs: Seq[(String, String)], name: String, q: Query): Unit = {
    def once(s: SparkSession): Double = {
      val t0 = System.nanoTime()
      run(q(s, dir))
      (System.nanoTime() - t0) / 1e9
    }
    once(a); once(b) // warm both
    val ratios = (1 to 10).map { i =>
      val ta = once(a); val tb = once(b)
      println(f"[ab] $name pair$i A=$ta%.3f B=$tb%.3f B/A=${tb / ta}%.3f")
      tb / ta
    }.sorted
    val med = (ratios(4) + ratios(5)) / 2
    println(f"[ab] $name MEDIAN B/A = $med%.3f  (A = as registered, " +
      s"B = ${confs.map { case (k, v) => s"$k=$v" }.mkString(" ")})")
  }

  private def plan(spark: SparkSession, dir: String, out: Option[String],
      name: String, q: Query): Unit = {
    val df = q(spark, dir)
    val physical = df.queryExecution.executedPlan
    val text = physical.toString
    val flags = Seq("CartesianProduct", "InMemoryTableScan").filter(text.contains) ++
      unboundedBnljs(physical)
    val joins = "\\w*Join\\w*".r.findAllIn(text).toSeq.distinct
    println(s"[plan] $name fp=${graft.Bench.planFingerprint(df)} " +
      s"joins=${joins.mkString(",")} ${if (flags.isEmpty) "clean" else "FLAGS: " + flags.mkString(",")}")
    out.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$name.txt"),
        graft.Bench.canonicalPlan(df))
    }
  }

  /** A BNLJ build side is acceptable iff its shape BOUNDS the row
    * count: either a grand (no-grouping-key) aggregate — the 1-row
    * scalar-subquery shape — or a filter comparing a column against a
    * small literal (the ANN probe set, `vec_id < 5`). Asserting the
    * shape instead of allowlisting query names means a future plan
    * change that makes a BNLJ unbounded gets flagged even in a query
    * that used to carry a benign one. */
  private def boundedBuild(p: SparkPlan): Boolean = {
    def smallLit(e: Expression): Boolean = e.exists {
      case Literal(v: Number, _) => math.abs(v.longValue()) <= 64
      case _ => false
    }
    p.exists {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case f: FilterExec => smallLit(f.condition)
      case _ => false
    }
  }

  private def unboundedBnljs(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => unboundedBnljs(a.executedPlan)
    case j: BroadcastNestedLoopJoinExec =>
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      (if (boundedBuild(build)) Nil else Seq("BNLJ-unbounded-build")) ++
        j.children.flatMap(unboundedBnljs)
    case other => other.children.flatMap(unboundedBnljs)
  }
}
