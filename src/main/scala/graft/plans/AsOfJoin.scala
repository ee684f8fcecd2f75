package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator extension #2: a native LEFT OUTER as-of join.
  *
  * "For each left row, the latest right row with the same key and
  * right.ts ≤ left.ts" is the attribution / point-in-time-feature
  * primitive (pandas merge_asof, kdb aj, Flink temporal join —
  * Spark only ships it in the pandas API, materialized through
  * Python). The SQL engine's own options both carry avoidable cost:
  * the inequality join plans a per-key cross product before ranking,
  * and the union+window rewrite (ev_asof_attribution,
  * ev_pit_lookup) needs value-carry columns per payload field and a
  * window buffer. This node runs the textbook streaming merge: both
  * sides hash-co-partitioned on the key and sorted by (key, ts) —
  * distribution/ordering REQUIREMENTS, so EnsureRequirements plans
  * the same exchanges+sorts a sort-merge join gets — then a single
  * forward pass holds exactly ONE candidate row per in-flight key.
  * O(1) state per partition, streaming emission, any number of right
  * payload columns carried wholesale.
  *
  * Matching contract: among right rows with equal (key, ts ≤ t) the
  * match is the LAST in (ts, tieBreaks) ascending order — a total
  * order the caller must provide for deterministic payloads; left
  * rows with no qualifying right row emit null-padded right columns
  * (LEFT OUTER). With `tolerance` set (pandas merge_asof's bound,
  * kdb wj's window edge) a match additionally requires
  * leftTs − rightTs ≤ tolerance, in the timestamp column's own
  * units — the latest-≤ candidate is by construction the closest,
  * so the bound is one comparison at emission. NULL contract (SQL
  * join semantics, unlike raw natural-ordering comparison where
  * null == null): a null in any key or timestamp on either side
  * never matches — such left rows null-pad, such right rows are
  * skipped by the merge.
  *
  * Reference scope: Impala executes this class of query as
  * analytic-fn rewrites (the window form §2.6 keeps); the native
  * node is the operator a Spark-first engine adds where the
  * declarative forms are structurally wasteful.
  */
case class AsOfJoinPlan(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightTies: Seq[Expression],
    tolerance: Option[Long],
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(lk, rk, lts, rts, ties, tol, l, r) =>
      AsOfJoinExec(lk, rk, lts, rts, ties, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightTies: Seq[Expression],
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTs, Ascending) +: rightTies.map(SortOrder(_, Ascending))))
  // left rows pass through in their sorted order
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val out = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsExpr), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsExpr), rOut)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(lKeyExprs.map(_.dataType))
      val tsOrd =
        RowOrdering.createNaturalAscendingOrdering(Seq(lTsExpr.dataType))
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(out, out)
      // leftTs/rightTs dataTypes are require()d equal by the API, so
      // one physical-long getter serves both sides of the tolerance
      val tsAsLong: InternalRow => Long = lTsExpr.dataType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => r => r.getInt(0).toLong
        case _ => r => r.getLong(0)
      }
      val tol = tolerance
      // one copied lookahead row + one copied candidate: O(1) state.
      // Right rows with a null key or null timestamp can never match
      // any left row (SQL null semantics) — the advance skips them;
      // natural ordering sorts them first, so they drain immediately.
      var rCur: InternalRow = null
      def advanceRight(): Unit = {
        rCur = null
        while (rCur == null && rIter.hasNext) {
          val n = rIter.next()
          if (!rKeyProj(n).anyNull && !rTsProj(n).isNullAt(0))
            rCur = n.copy()
        }
      }
      advanceRight()
      var candidate: InternalRow = null
      var candidateKey: InternalRow = null
      var candidateTs = 0L
      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTsRow = lTsProj(lRow)
        if (lKey.anyNull || lTsRow.isNullAt(0)) {
          // a null key or timestamp matches nothing: null-pad without
          // touching the merge state (nulls sort first, so no right
          // row for a later real key has been passed)
          outProj(joined(lRow, nullRight)): InternalRow
        } else {
          // stale candidate from an earlier key can never match again
          if (candidate != null && keyOrd.compare(candidateKey, lKey) != 0) {
            candidate = null
            candidateKey = null
          }
          var done = false
          while (!done && rCur != null) {
            val rKey = rKeyProj(rCur)
            val c = keyOrd.compare(rKey, lKey)
            if (c < 0) {
              advanceRight() // right key already passed by every left row
            } else if (c == 0 &&
                tsOrd.compare(rTsProj(rCur), lTsRow) <= 0) {
              // qualifying; later qualifying rows overwrite → LAST wins
              candidate = rCur
              candidateKey = rKey.copy()
              if (tol.isDefined) candidateTs = tsAsLong(rTsProj(rCur))
              advanceRight()
            } else {
              done = true // right is ahead of this left row
            }
          }
          // the latest-≤ candidate is the closest one, so the
          // tolerance bound is a single comparison at emission
          val rightSide =
            if (candidate != null && keyOrd.compare(candidateKey, lKey) == 0 &&
                tol.forall(t => tsAsLong(lTsRow) - candidateTs <= t))
              candidate
            else nullRight
          outProj(joined(lRow, rightSide)): InternalRow
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API for the native as-of join. */
object AsOf {
  /** LEFT OUTER as-of join: every row of `left` plus the latest
    * `right` row with equal `keys` and `rightTs` ≤ `leftTs` (ties on
    * the timestamp resolved by `rightTies` ascending, LAST wins —
    * pass enough columns for a total order). `tolerance` (if set)
    * additionally bounds the match to leftTs − rightTs ≤ tolerance,
    * in the timestamp column's own units — pandas merge_asof's
    * `tolerance`, completing the full backward-merge primitive.
    * Output carries ALL columns of both sides; the sides MUST carry
    * disjoint column names (require()d — also what guarantees fresh
    * right-side exprIds survive optimization for self-joins), and
    * each key pair plus the two timestamp columns must agree in
    * dataType (require()d — the merge compares raw ordered bytes, so
    * a silent type mismatch would silently mis-order). */
  def join(left: DataFrame, right: DataFrame, keys: Seq[(String, String)],
      leftTs: String, rightTs: String, rightTies: Seq[String],
      tolerance: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "as-of join requires at least one equi-key")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty,
      s"as-of join requires disjoint column names across sides; " +
        s"shared: ${dup.toSeq.sorted.mkString(", ")}")
    val spark = left.sparkSession
    org.apache.spark.sql.GraftFunctions.addStrategy(spark, AsOfStrategy)
    // fresh exprIds on the right: both sides often derive from the
    // same scan, and duplicate attribute ids across children would
    // mis-bind the output projection
    import org.apache.spark.sql.functions.col
    val rightFresh = right.select(right.columns.map(c => col(c).as(c)): _*)
    val la = left.queryExecution.analyzed
    val ra = rightFresh.queryExecution.analyzed
    val lRes = la.output.map(a => a.name -> a).toMap
    val rRes = ra.output.map(a => a.name -> a).toMap
    keys.foreach { case (lk, rk) =>
      require(lRes(lk).dataType == rRes(rk).dataType,
        s"as-of key type mismatch: $lk is ${lRes(lk).dataType.sql}, " +
          s"$rk is ${rRes(rk).dataType.sql}")
    }
    require(lRes(leftTs).dataType == rRes(rightTs).dataType,
      s"as-of timestamp type mismatch: $leftTs is " +
        s"${lRes(leftTs).dataType.sql}, $rightTs is ${rRes(rightTs).dataType.sql}")
    if (tolerance.isDefined) {
      import org.apache.spark.sql.types._
      require(Set[DataType](LongType, IntegerType, DateType, TimestampType,
          TimestampNTZType).contains(lRes(leftTs).dataType),
        s"tolerance requires an integer/date/timestamp time column, " +
          s"got ${lRes(leftTs).dataType.sql}")
      require(tolerance.get >= 0, "tolerance must be non-negative")
    }
    org.apache.spark.sql.GraftFunctions.ofRows(spark,
      AsOfJoinPlan(
        keys.map(k => lRes(k._1)), keys.map(k => rRes(k._2)),
        lRes(leftTs), rRes(rightTs), rightTies.map(rRes(_)),
        tolerance, la, ra))
  }

  /** FORWARD as-of join (merge_asof direction='forward' — the
    * time-to-next-event primitive): every row of `left` plus the
    * EARLIEST `right` row with equal `keys` and `rightTs` ≥ `leftTs`
    * (ties at the same timestamp resolved to the LARGEST
    * `rightTies` — pass a total order); `tolerance` (if set) bounds
    * the match to rightTs − leftTs ≤ tolerance. Implemented as the
    * backward merge on NEGATED timestamps — the same AsOfJoinExec,
    * zero new operator code; the timestamp columns must therefore be
    * numeric (bigint/int — the repo's epoch convention), not
    * timestamp-typed. */
  def joinForward(left: DataFrame, right: DataFrame, keys: Seq[(String, String)],
      leftTs: String, rightTs: String, rightTies: Seq[String],
      tolerance: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val lNeg = "__graft_neg_lts"
    val rNeg = "__graft_neg_rts"
    join(
      left.withColumn(lNeg, -col(leftTs)),
      right.withColumn(rNeg, -col(rightTs)),
      keys, lNeg, rNeg, rightTies, tolerance)
      .drop(lNeg, rNeg)
  }
}
