package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator extension #3: a native INNER band (interval) join.
  *
  * "For each left row, ALL right rows with the same key and
  * rightTs ∈ [leftTs+lo, leftTs+hi]" is the windowed-correlation
  * primitive behind trailing-window attribution, sensor alignment and
  * sliding feature joins (kdb wj over the full window, pandas has no
  * vectorized form). Spark's own plans for the predicate both carry
  * avoidable cost: written as an equi-join plus a range residual, the
  * sort-merge join buffers EVERY right row of the key group before
  * filtering (a hot key's whole history in one task buffer); written
  * without an equi-key it degenerates to a broadcast-nested-loop. The
  * declarative rescue the repo ships (ev_range_join) is bucket-
  * explode + equi-join — scale-safe, but it duplicates one side ×
  * ⌈band/bucket⌉ and re-filters. This node runs the textbook
  * sweep-merge instead: both sides hash-co-partitioned on the key and
  * sorted by (key, ts) — REQUIREMENTS, so EnsureRequirements plans
  * exactly the exchanges+sorts an SMJ gets — then one forward pass
  * holds only the right rows currently inside the band. State per
  * partition is O(band occupancy): bounded by band width × peak
  * per-key arrival rate, never by key-group size.
  *
  * Matching contract: INNER — left rows with an empty band emit
  * nothing; matches emit in right (ts, input-order) within each left
  * row, and the band bounds are INCLUSIVE on both ends (callers
  * express half-open bands on integer timestamps with hi−1, as
  * ev_range_native does). NULL contract (SQL join semantics): a null
  * key or timestamp on either side never matches — such rows are
  * skipped by the merge. `lo`/`hi` are offsets in the timestamp
  * column's own units and may be negative (a trailing window is
  * lo = −w, hi = −1).
  *
  * Reference scope: the reference's row-batch engine has no
  * interval-join operator at all (joins are rewritten upstream;
  * hdfs-parquet-scanner.cc:1 is scan-side only); this node is the
  * operator a Spark-first engine adds where both declarative forms
  * are structurally wasteful.
  */
case class BandJoinPlan(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    lo: Long,
    hi: Long,
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BandJoinPlan =
    copy(left = newLeft, right = newRight)
}

object BandJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BandJoinPlan(lk, rk, lts, rts, lo, hi, l, r) =>
      BandJoinExec(lk, rk, lts, rts, lo, hi, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class BandJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    lo: Long,
    hi: Long,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, Ascending))
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
    val loOff = lo
    val hiOff = hi
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsExpr), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsExpr), rOut)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(lKeyExprs.map(_.dataType))
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(out, out)
      // the API require()s matching integer-family ts types, so one
      // physical-long getter serves both sides of the band arithmetic
      val tsAsLong: InternalRow => Long = lTsExpr.dataType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => r => r.getInt(0).toLong
        case _ => r => r.getLong(0)
      }
      // one copied lookahead row + the copied rows currently inside
      // the band: O(occupancy) state. Right rows with a null key or
      // null timestamp can never match (SQL null semantics) — the
      // advance skips them.
      var rCur: InternalRow = null
      var rCurTs = 0L
      def advanceRight(): Unit = {
        rCur = null
        while (rCur == null && rIter.hasNext) {
          val n = rIter.next()
          val ts = rTsProj(n)
          if (!rKeyProj(n).anyNull && !ts.isNullAt(0)) {
            rCur = n.copy()
            rCurTs = tsAsLong(ts)
          }
        }
      }
      advanceRight()
      // rows inside [lTs+lo, lTs+hi] for the buffer's key, in ts
      // order (ingested from a (key, ts)-sorted stream); eviction
      // from the head is final — lTs only grows, so an evicted row
      // can never re-enter a later left row's band
      val buf = new java.util.ArrayDeque[InternalRow]()
      val bufTs = new java.util.ArrayDeque[java.lang.Long]()
      var bufKey: InternalRow = null
      lIter.flatMap { lRow =>
        val lKey = lKeyProj(lRow)
        val lTsRow = lTsProj(lRow)
        if (lKey.anyNull || lTsRow.isNullAt(0)) {
          Iterator.empty // a null key or timestamp matches nothing
        } else {
          val lTs = tsAsLong(lTsRow)
          // a buffered band from an earlier key can never match again
          if (bufKey != null && keyOrd.compare(bufKey, lKey) != 0) {
            buf.clear(); bufTs.clear(); bufKey = null
          }
          // ingest right rows up to the band's upper edge; skip keys
          // already passed by every remaining left row
          var done = false
          while (!done && rCur != null) {
            val c = keyOrd.compare(rKeyProj(rCur), lKey)
            if (c < 0) {
              advanceRight()
            } else if (c == 0 && rCurTs <= lTs + hiOff) {
              if (bufKey == null) bufKey = lKey.copy()
              buf.addLast(rCur)
              bufTs.addLast(rCurTs)
              advanceRight()
            } else {
              done = true // right is ahead of this left row's band
            }
          }
          // evict rows below the band's lower edge (head = oldest)
          while (!bufTs.isEmpty && bufTs.peekFirst() < lTs + loOff) {
            buf.pollFirst(); bufTs.pollFirst()
          }
          if (buf.isEmpty) Iterator.empty
          else {
            // lRow stays valid while the inner iterator drains: the
            // outer flatMap only advances lIter afterwards
            val it = buf.iterator()
            new Iterator[InternalRow] {
              override def hasNext: Boolean = it.hasNext
              override def next(): InternalRow =
                outProj(joined(lRow, it.next()))
            }
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BandJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API for the native band join. */
object Band {
  /** INNER band join: each row of `left` paired with EVERY `right`
    * row with equal `keys` and `rightTs` ∈ [`leftTs`+`lo`,
    * `leftTs`+`hi`] (both ends inclusive, offsets in the timestamp
    * column's own units; a trailing-hour window on epoch seconds is
    * lo = −3600, hi = −1). Output carries ALL columns of both sides;
    * the sides MUST carry disjoint column names and each key pair
    * plus the two timestamp columns must agree in dataType
    * (require()d — the merge compares raw ordered bytes); the
    * timestamp columns must be integer/date/timestamp-typed (the
    * band arithmetic runs on their physical longs). */
  def join(left: DataFrame, right: DataFrame, keys: Seq[(String, String)],
      leftTs: String, rightTs: String, lo: Long, hi: Long): DataFrame = {
    require(keys.nonEmpty, "band join requires at least one equi-key")
    require(lo <= hi, s"empty band: lo=$lo > hi=$hi")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty,
      s"band join requires disjoint column names across sides; " +
        s"shared: ${dup.toSeq.sorted.mkString(", ")}")
    val spark = left.sparkSession
    org.apache.spark.sql.GraftFunctions.addStrategy(spark, BandJoinStrategy)
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
        s"band key type mismatch: $lk is ${lRes(lk).dataType.sql}, " +
          s"$rk is ${rRes(rk).dataType.sql}")
    }
    require(lRes(leftTs).dataType == rRes(rightTs).dataType,
      s"band timestamp type mismatch: $leftTs is " +
        s"${lRes(leftTs).dataType.sql}, $rightTs is ${rRes(rightTs).dataType.sql}")
    locally {
      import org.apache.spark.sql.types._
      require(Set[DataType](LongType, IntegerType, DateType, TimestampType,
          TimestampNTZType).contains(lRes(leftTs).dataType),
        s"band join requires an integer/date/timestamp time column, " +
          s"got ${lRes(leftTs).dataType.sql}")
    }
    org.apache.spark.sql.GraftFunctions.ofRows(spark,
      BandJoinPlan(
        keys.map(k => lRes(k._1)), keys.map(k => rRes(k._2)),
        lRes(leftTs), rRes(rightTs), lo, hi, la, ra))
  }
}
