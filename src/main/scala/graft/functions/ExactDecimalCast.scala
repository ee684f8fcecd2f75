package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CAST
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType}

/** Exact double → DECIMAL(p ≤ 18, s) cast on a long-backed kernel.
  *
  * Spark compiles such a cast to `Decimal(BigDecimal.valueOf(d))` plus
  * `changePrecision`: one `Double.toString` and a BigDecimal-backed
  * Decimal per row, which every downstream decimal add then runs on
  * the slow BigDecimal path. This expression computes the same value
  * as an unscaled long ([[ExactDecimalCast.unscaled]]) whenever an
  * exactness test proves the two agree, and otherwise evaluates
  * `fallback` — the original `Cast` with its child replaced by input
  * slot 0 — on the child's value. Values, nulls and LEGACY/ANSI/TRY
  * errors (with the original query context) therefore stay Spark's
  * own; only the representation changes. The reference stores DECIMAL
  * as fixed-width scaled integers for the same reason.
  *
  * Interpreted eval and generated code share [[convert]]; the
  * projection stays inside whole-stage codegen through one call into
  * a JIT-compiled method (the [[ArgMaxCell]] pattern).
  *
  * [[ExactDecimalCastRule]] puts this node in place of every such cast;
  * `GraftFunctions.register` installs the rule.
  */
case class ExactDecimalCast(child: Expression, fallback: Cast) extends UnaryExpression {
  private val target = fallback.dataType.asInstanceOf[DecimalType]

  override def dataType: DataType = target
  // the fallback's child is a non-null slot, so its nullability is the
  // cast's own (LEGACY/TRY overflow); the child adds its nulls
  override def nullable: Boolean = child.nullable || fallback.nullable
  override def prettyName: String = "graft_exact_decimal"
  override def toString: String = s"$prettyName($child as ${target.simpleString})"

  /** the per-row conversion — public so generated code can call it. */
  def convert(d: Double): Decimal = {
    val r = ExactDecimalCast.unscaled(d, target.precision, target.scale)
    if (r != ExactDecimalCast.Miss) Decimal.createUnsafe(r, target.precision, target.scale)
    else fallback.eval(new GenericInternalRow(Array[Any](d))).asInstanceOf[Decimal]
  }

  override protected def nullSafeEval(input: Any): Any = convert(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("exactDecimal", this, classOf[ExactDecimalCast].getName)
    nullSafeCodeGen(ctx, ev, d =>
      s"${ev.value} = $ref.convert($d);" +
        (if (nullable) s"\n${ev.isNull} = ${ev.value} == null;" else ""))
  }

  override protected def withNewChildInternal(newChild: Expression): ExactDecimalCast =
    copy(child = newChild)
}

object ExactDecimalCast {
  /** what [[unscaled]] returns when the fast path does not apply; no
    * accepted result reaches it, as those stay below 2^53. */
  final val Miss: Long = Long.MinValue

  private val Pow10: Array[Double] = Array.iterate(1L, 19)(_ * 10).map(_.toDouble)
  private val Limit: Array[Double] = Pow10.map(math.min(_, (1L << 53).toDouble))

  /** The unscaled value of Spark's cast of `d` to DECIMAL(precision,
    * scale) — HALF_UP of `Double.toString(d)` to `scale` places — or
    * [[Miss]]. Requires 0 ≤ scale ≤ precision ≤ 18.
    *
    * With r = rint(d·10^s), the result is r when all three hold:
    * |r| < min(10^p, 2^53); r / 10^s == d in double arithmetic; and
    * ulp(d)·10^s < 0.5. Then the decimal r·10^-s and `Double.toString(d)`
    * both round to d, so they lie within ulp(d) < ½·10^-s of each
    * other: HALF_UP of the string to s places is exactly r, with no
    * tie, and r has at most p digits. NaN, ±Inf, ties, huge or tiny
    * magnitudes and overflow all fail the test. */
  def unscaled(d: Double, precision: Int, scale: Int): Long = {
    val pow = Pow10(scale)
    val r = Math.rint(d * pow)
    if (Math.abs(r) < Limit(precision) && r / pow == d && Math.ulp(d) * pow < 0.5) r.toLong
    else Miss
  }

  /** The unscaled value of HALF_UP(`Double.toString(d)`, `scale`) for a
    * finite `d` whose result fits a long: [[unscaled]] when it applies,
    * else the BigDecimal route Spark's cast takes. Throws on NaN, ±Inf
    * and on overflow. Requires 0 ≤ scale ≤ 18. */
  def halfUpUnscaled(d: Double, scale: Int): Long = {
    val r = unscaled(d, 18, scale)
    if (r != Miss) r
    else java.math.BigDecimal.valueOf(d).setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue.longValueExact
  }
}

/** Replaces every resolved `Cast(double → DECIMAL(p, s))` with
  * 0 ≤ s ≤ p ≤ 18 by [[ExactDecimalCast]], keeping the cast (eval
  * mode, time zone, origin) as the node's fallback. Always on: the
  * rewrite changes no value, null or error, so there is nothing to
  * choose. The new node carries no CAST pattern, so a second pass
  * finds nothing. */
object ExactDecimalCastRule extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(CAST)) {
      case c @ Cast(child, dt: DecimalType, _, _)
          if c.resolved && child.dataType == DoubleType &&
            dt.precision <= 18 && dt.scale >= 0 =>
        ExactDecimalCast(child,
          c.withNewChildren(Seq(BoundReference(0, DoubleType, nullable = false)))
            .asInstanceOf[Cast])
    }
}
