package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

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
    * registered, then `conf` applied, in that order.
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
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val dot = FunctionIdentifier("graft_dot")
    if (!registry.functionExists(dot)) {
      registry.registerFunction(
        dot,
        new ExpressionInfo(classOf[graft.functions.ArrayDot].getName, "graft_dot"),
        (exprs: Seq[Expression]) => {
          requireArity("graft_dot", exprs, 2)
          graft.functions.ArrayDot(exprs(0), exprs(1))
        })
    }
    val pqe = FunctionIdentifier("graft_pq_encode")
    if (!registry.functionExists(pqe)) {
      registry.registerFunction(
        pqe,
        new ExpressionInfo(classOf[graft.functions.PqEncode].getName, "graft_pq_encode"),
        (exprs: Seq[Expression]) => {
          requireArity("graft_pq_encode", exprs, 4)
          graft.functions.PqEncode(exprs(0), exprs(1), exprs(2), exprs(3))
        })
    }
    val adc = FunctionIdentifier("graft_pq_adc")
    if (!registry.functionExists(adc)) {
      registry.registerFunction(
        adc,
        new ExpressionInfo(classOf[graft.functions.PqAdc].getName, "graft_pq_adc"),
        (exprs: Seq[Expression]) => {
          requireArity("graft_pq_adc", exprs, 3)
          graft.functions.PqAdc(exprs(0), exprs(1), exprs(2))
        })
    }
    val amc = FunctionIdentifier("graft_argmax_cell")
    if (!registry.functionExists(amc)) {
      registry.registerFunction(
        amc,
        new ExpressionInfo(classOf[graft.functions.ArgMaxCell].getName, "graft_argmax_cell"),
        (exprs: Seq[Expression]) => {
          requireArity("graft_argmax_cell", exprs, 4)
          graft.functions.ArgMaxCell(exprs(0), exprs(1), exprs(2), exprs(3))
        })
    }
    val mtext = FunctionIdentifier("graft_minhash_text")
    if (!registry.functionExists(mtext)) {
      registry.registerFunction(
        mtext,
        new ExpressionInfo(classOf[graft.functions.MinHashText].getName, "graft_minhash_text"),
        (exprs: Seq[Expression]) => {
          requireArity("graft_minhash_text", exprs, 1)
          graft.functions.MinHashText(exprs.head)
        })
    }
    val sig = FunctionIdentifier("graft_minhash_sig")
    if (!registry.functionExists(sig)) {
      registry.registerFunction(
        sig,
        new ExpressionInfo(classOf[graft.functions.MinHashSig].getName, "graft_minhash_sig"),
        (exprs: Seq[Expression]) => {
          requireArity("graft_minhash_sig", exprs, 1)
          graft.functions.MinHashSig(exprs.head).toAggregateExpression()
        })
    }
    val methods = spark.sessionState.experimentalMethods
    methods.synchronized {
      if (!methods.extraOptimizations.contains(graft.functions.ExactDecimalCastRule))
        methods.extraOptimizations :+= graft.functions.ExactDecimalCastRule
    }
  }
}
