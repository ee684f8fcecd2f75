package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native nearest-centroid argmax:
  * `graft_argmax_cell(vd, vnrm, cents, exclude)` → BIGINT cell, where
  * `cents` is the cell-ascending sorted
  * `array<struct<cell: bigint, cv: array<double>, cnrm: double>>`
  * centroid row every IVF path already broadcasts.
  *
  * Bit-identical contract with the aggregate() HOF fold it replaces
  * (`IF(s.sim > acc.sim, s, acc)` from init (-2.0, -1) in array
  * order): sim = graft_dot(vd, cv) / (vnrm * cnrm) with the same
  * left-to-right multiply-add dot, the same division tree, and the
  * same strict `>` — Spark SQL double comparison, i.e.
  * SQLOrderingUtil.compareDoubles, so a (data-impossible) NaN sim
  * ranks above every real value exactly as the SQL fold would rank
  * it. First (lowest) cell wins exact ties, matching the oracle's
  * ORDER BY sim DESC, cell. Entries whose cell equals `exclude` are
  * skipped — pass -1 for plain argmax; pass the first pick to get the
  * SECOND-nearest cell (the graph build's multi-assignment).
  *
  * Why native: the repo's profiling shows aggregate()/transform()
  * lambdas run interpreted per element — at the trained quantizer's
  * ⌊√N⌋ cells that is √N interpreted steps per corpus row on the
  * assignment pass (the corpus-wide single pass an index build pays).
  * This emits one call into a JIT-compiled loop via
  * ctx.addReferenceObj, keeping the projection inside whole-stage
  * codegen — the graft_dot / graft_pq_encode pattern
  * (/root/reference/hash-util.h:1 for the kernel ethos). Measured
  * when the kernel landed (commit 33c9ebe, sf0.1 trained assignment,
  * min-of-3): 0.141 s HOF → 0.094 s native (1.5×) at 2000×44 — a
  * per-(row·cell) gap that widens with the √N cell count. SimilaritySpec
  * pins the assignment to the fold's: zero mismatches on the trained
  * cells, and the lowest cell on a planted exact tie.
  */
case class ArgMaxCell(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val centsOk = third.dataType match {
      case ArrayType(StructType(fields), _) if fields.length == 3 =>
        fields(0).dataType == LongType &&
          (fields(1).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) && fields(2).dataType == DoubleType
      case _ => false
    }
    val ok = (first.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }) && second.dataType == DoubleType && centsOk &&
      fourth.dataType == LongType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_argmax_cell expects (array<double>, double, " +
        "array<struct<cell: bigint, cv: array<double>, cnrm: double>>, " +
        s"bigint), got (${first.dataType.simpleString}, " +
        s"${second.dataType.simpleString}, ${third.dataType.simpleString}, " +
        s"${fourth.dataType.simpleString})")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_argmax_cell"

  /** the hot loop — public so generated code can call it. */
  def compute(vdA: Any, vnrmA: Any, centsA: Any, exclA: Any): Long = {
    val vd = vdA.asInstanceOf[ArrayData]
    val vnrm = vnrmA.asInstanceOf[Double]
    val cents = centsA.asInstanceOf[ArrayData]
    val excl = exclA.asInstanceOf[Long]
    val dims = vd.numElements()
    var best = -2.0
    var bestCell = -1L
    var i = 0
    val n = cents.numElements()
    while (i < n) {
      val c = cents.getStruct(i, 3)
      val cell = c.getLong(0)
      if (cell != excl) {
        val cv = c.getArray(1)
        val cnrm = c.getDouble(2)
        var dot = 0.0
        var d = 0
        while (d < dims) { dot += vd.getDouble(d) * cv.getDouble(d); d += 1 }
        val sim = dot / (vnrm * cnrm)
        if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(sim, best) > 0) {
          best = sim; bestCell = cell
        }
      }
      i += 1
    }
    bestCell
  }

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    compute(a, b, c, d)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argMaxCell", this, classOf[ArgMaxCell].getName)
    nullSafeCodeGen(ctx, ev, (v, n, cents, ex) =>
      s"${ev.value} = $ref.compute($v, $n, $cents, $ex);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): ArgMaxCell =
    copy(first = f, second = s, third = t, fourth = q)
}
