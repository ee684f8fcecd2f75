package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

/** Registers graft's native Catalyst expressions on a session's own
  * function registry, and graft's optimizer rule on its experimental
  * methods: [[graft.functions.ExactDecimalCastRule]], which turns every
  * double → DECIMAL(p ≤ 18, s) cast into a long-backed
  * [[graft.functions.ExactDecimalCast]]. That node returns the long
  * r = rint(d·10^s) when |r| < min(10^p, 2^53), r / 10^s == d and
  * ulp(d)·10^s < 0.5 — then r is exactly the value Spark's cast gives —
  * and otherwise evaluates the original cast, so values, nulls and
  * errors do not change. A session built with `newSession()` starts without
  * either, so every session graft plans on must pass through here; every
  * child session graft opens comes from [[childSession]], which does.
  *
  * Lives in the org.apache.spark.sql package because sessionState is
  * private[sql]: the driver hands us an already-built SparkSession,
  * so the public SparkSessionExtensions route (builder-time
  * injectFunction) is not available — this is the session-scoped
  * equivalent, and idempotent.
  */
object GraftFunctions {
  /** DataFrame from a (resolved) custom logical plan. */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** the catalyst expression behind a Column. */
  def expression(spark: SparkSession, c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** builders run at analysis time: a wrong argument count must fail
    * analysis loudly, never silently drop extra arguments. */
  private def requireArity(fn: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$fn expects exactly $n argument(s), got ${exprs.length}")

  /** A child session of `parent` for a query that needs its own confs:
    * artifact isolation off, graft's functions and optimizer rule
    * registered, graft's session confs ([[graft.sources.Tables.sessionConf]])
    * set, then `conf` applied, in that order. `newSession()` copies no
    * runtime conf, so without the graft confs a child session would
    * read parquet under other flags than its parent until its first
    * `Tables.table` call, and cache inferred schemas under another key.
    *
    * Isolation is off because graft never adds jars, files or classes
    * to a session, so it buys nothing, and it costs a recompile: with
    * `spark.sql.artifact.isolation.enabled` on (Spark's default) every
    * session's tasks, and every stream's per-start `cloneSession()`,
    * run under a fresh `ExecutorClassLoader`, and the compiled-class
    * cache is keyed by class loader, so each child session would compile
    * all its generated code again. With it off, the tasks run in the
    * executor's default session state and reuse the classes every
    * earlier child session compiled.
    *
    * The order matters. Spark reads the isolation conf once, lazily,
    * the first time the session's artifact state is used, so it is set
    * before anything else touches the session; a stream's clone copies
    * it. The caller's confs come last, so a caller can still turn
    * isolation back on. */
  def childSession(parent: SparkSession, conf: (String, String)*): SparkSession = {
    val s = parent.newSession()
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    register(s)
    (graft.sources.Tables.sessionConf ++ conf).foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Unload and close every state-store provider of the stopped
    * `query`, dropping its in-memory state maps or closing its RocksDB
    * instances now instead of at Spark's next maintenance sweep
    * (`spark.sql.streaming.stateStore.maintenanceInterval`, 60 s by
    * default). The providers are named from the query's last
    * micro-batch plan: one per state-store name of each stateful
    * operator (a stream-stream join has four) and per partition, under
    * the operator's `StatefulOperatorStateInfo` (checkpoint location,
    * run id, operator id, partition count). Every batch of a run plans
    * its stateful operators with the same ids, so the last plan names
    * them all, and only this run's providers go: a concurrent query
    * keeps its own. A stateless query names none. So does a query whose
    * last batch failed to plan; what earlier batches loaded is then
    * left to the maintenance sweep.
    *
    * Scope: this acts on the executor-side registry of the JVM it runs
    * in. In local mode, where the executor is the driver, that is every
    * provider the query loaded. On a cluster the driver holds none, and
    * the executors' own maintenance unloads them once the state-store
    * coordinator has marked the stopped run inactive. */
  def unloadStateStores(query: StreamingQuery): Unit = query match {
    case w: StreamingQueryWrapper =>
      for {
        ex <- Option(w.streamingQuery.lastExecution).toSeq
        // a plan that failed to build would throw again here, over the
        // query's own failure
        plan <- scala.util.Try(ex.executedPlan).toOption.toSeq
        op <- plan.collect { case op: StateStoreWriter => op }
        info = op.getStateInfo
        name <- op.stateStoreNames
        part <- 0 until info.numPartitions
      } StateStore.removeFromLoadedProvidersAndClose(StateStoreProviderId(
        StateStoreId(info.checkpointLocation, info.operatorId, part, name), info.queryRunId))
    case _ =>
  }

  /** Every state-store provider loaded in this JVM's executor-side
    * registry. Spark keeps that map private, so it is read by
    * reflection, under the map's own lock as Spark reads it. For
    * diagnostics and tests only. */
  def loadedStateStores(): Seq[StateStoreProviderId] = {
    val field = StateStore.getClass.getDeclaredField("loadedProviders")
    field.setAccessible(true)
    val loaded = field.get(StateStore)
      .asInstanceOf[scala.collection.mutable.HashMap[StateStoreProviderId, _]]
    loaded.synchronized(loaded.keys.toSeq)
  }

  /** graft's native functions: (name, class, arity, builder over
    * exactly `arity` argument expressions). */
  private val functions: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[graft.functions.ArrayDot], 2,
      e => graft.functions.ArrayDot(e(0), e(1))),
    ("graft_pq_encode", classOf[graft.functions.PqEncode], 4,
      e => graft.functions.PqEncode(e(0), e(1), e(2), e(3))),
    ("graft_pq_adc", classOf[graft.functions.PqAdc], 3,
      e => graft.functions.PqAdc(e(0), e(1), e(2))),
    ("graft_argmax_cell", classOf[graft.functions.ArgMaxCell], 4,
      e => graft.functions.ArgMaxCell(e(0), e(1), e(2), e(3))),
    ("graft_minhash_text", classOf[graft.functions.MinHashText], 1,
      e => graft.functions.MinHashText(e.head)),
    ("graft_minhash_sig", classOf[graft.functions.MinHashSig], 1,
      e => graft.functions.MinHashSig(e.head).toAggregateExpression()))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, cls, arity, build) <- functions) {
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name),
          (exprs: Seq[Expression]) => { requireArity(name, exprs, arity); build(exprs) })
    }
    withHooks(spark) { m =>
      if (!m.extraOptimizations.contains(graft.functions.ExactDecimalCastRule))
        m.extraOptimizations :+= graft.functions.ExactDecimalCastRule
    }
  }

  /** Runs `f` on the session's experimental hooks under their one
    * lock. `extraStrategies` and `extraOptimizations` are plain vars,
    * so every read-modify-write of them goes through here; two threads
    * registering on one session then keep both registrations. */
  def withHooks[T](spark: SparkSession)(f: ExperimentalMethods => T): T = {
    val m = spark.sessionState.experimentalMethods
    m.synchronized(f(m))
  }

  /** Adds `strategy` to the session's planner strategies, once. */
  def addStrategy(spark: SparkSession, strategy: execution.SparkStrategy): Unit =
    withHooks(spark) { m =>
      if (!m.extraStrategies.contains(strategy)) m.extraStrategies :+= strategy
    }
}
