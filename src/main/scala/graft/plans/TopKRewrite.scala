package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rewrite: `row_number() OVER (PARTITION BY … ORDER BY …)`
  * followed by a `rn <= k` filter — the idiomatic Spark top-N-per-key
  * — becomes the native [[TopKPerKeyPlan]], replacing WindowExec's
  * full per-partition sort with bounded k-heaps (O(n·log k) instead
  * of O(n·log n), no sort spill for the keep-k case).
  *
  * This closes the custom-operator ladder the library ships:
  * logical node → Strategy → physical operator, now driven by a
  * `Rule[LogicalPlan]` so EXISTING window-formulated code benefits
  * without being rewritten by hand.
  *
  * Deliberately opt-in via [[GraftOptimizations.install]] rather than
  * always-on: TopKPerKeyExec's per-key heap map is fastest on
  * bounded key domains and degrades to sorted spill runs past
  * `maxKeysPerPartition` (plans/TopKPerKey.scala) — an optimizer
  * cannot know key cardinality, so the session owner opts in where
  * the heap fast path is the expected regime. The rewrite fires only
  * on the exact safe shape:
  * a single row_number window expression whose rank is filtered by a
  * literal bound (`<= k`, `< k`, `= 1`), with the rank attribute
  * preserved (cast back to its original int type and exprId) so
  * downstream references resolve unchanged. A WindowGroupLimit the
  * main optimizer already inserted below the Window is stripped —
  * its pre-filtering is subsumed by the heaps.
  */
class TopKRewrite(maxKeysPerPartition: Int) extends Rule[LogicalPlan] {

  /** the rank side: the bare attribute, or the implicit widening cast
    * analysis inserts when the literal bound is a Long (`rn <= 3L`). */
  private object RankRef {
    def unapply(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case Cast(a: Attribute, LongType, _, _) => Some(a)
      case _ => None
    }
  }

  private object Bound {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
  }

  /** The bound as a Long first (no Int underflow/overflow on the ±1
    * arithmetic: `rn < Int.MinValue` must not wrap to k=Int.MaxValue),
    * then accepted only if it lands in [1, Int.MaxValue] — outside
    * that range the filter is degenerate (always-false or cheaper as
    * a no-op) and the window plan is left alone. */
  private def limitFor(cond: Expression, rn: Attribute): Option[Int] = {
    val k: Option[Long] = cond match {
      case LessThanOrEqual(RankRef(a), Bound(v)) if a.semanticEquals(rn) => Some(v)
      case LessThan(RankRef(a), Bound(v)) if a.semanticEquals(rn) && v > Long.MinValue => Some(v - 1)
      case EqualTo(RankRef(a), Bound(v)) if v == 1 && a.semanticEquals(rn) => Some(1L)
      // the reversed (literal-first) spellings of the same predicates
      case GreaterThanOrEqual(Bound(v), RankRef(a)) if a.semanticEquals(rn) => Some(v)
      case GreaterThan(Bound(v), RankRef(a)) if a.semanticEquals(rn) && v > Long.MinValue => Some(v - 1)
      case EqualTo(Bound(v), RankRef(a)) if v == 1 && a.semanticEquals(rn) => Some(1L)
      case _ => None
    }
    k.collect { case v if v >= 1 && v <= Int.MaxValue => v.toInt }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window) if w.windowExpressions.size == 1 =>
      w.windowExpressions.head match {
        case alias @ Alias(WindowExpression(RowNumber(), _), _) =>
          limitFor(cond, alias.toAttribute) match {
            case Some(k) if k >= 1 =>
              // the main optimizer may already have inserted its
              // rank-limit pre-filter; the heaps subsume it
              val inner = w.child match {
                case WindowGroupLimit(_, _, _, _, gchild) => gchild
                case c => c
              }
              val rank = AttributeReference("graft_rank", LongType, nullable = false)()
              Project(
                inner.output :+ Alias(Cast(rank, IntegerType), alias.name)(alias.exprId),
                TopKPerKeyPlan(w.partitionSpec, w.orderSpec, k,
                  maxKeysPerPartition, rank, inner))
            case _ => f
          }
        case _ => f
      }
  }
}

/** Session-level opt-in for graft's optimizer extensions. */
object GraftOptimizations {
  /** Installs the top-N-per-key rewrite (and the strategy that plans
    * its logical node) into `spark`'s experimental hooks. Per-session:
    * a `newSession()` starts clean. `maxKeysPerPartition` is the
    * in-memory key budget passed through to the physical operator
    * (past it, heaps spill to sorted runs — not an error);
    * re-installing with a different bound REPLACES the
    * installed rule (last call wins — previously a differing bound
    * was silently ignored). */
  def install(spark: SparkSession, maxKeysPerPartition: Int = 1 << 20): Unit =
    org.apache.spark.sql.GraftFunctions.withHooks(spark) { m =>
      org.apache.spark.sql.GraftFunctions.addStrategy(spark, TopKStrategy)
      m.extraOptimizations = m.extraOptimizations.filterNot(_.isInstanceOf[TopKRewrite]) :+
        new TopKRewrite(maxKeysPerPartition)
    }
}
