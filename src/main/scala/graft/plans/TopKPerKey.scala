package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator extension showcase: per-key top-k without sorting
  * whole partitions.
  *
  * Spark expresses "top k per key" as row_number() over a window +
  * filter, whose WindowExec SORTS every partition on (keys, order) —
  * at 100 TB that is a full sort of every probe's candidate set just
  * to keep 10 rows. This operator keeps a bounded k-heap per key
  * (memory O(keys·k), time O(n·log k)) after the same hash
  * repartition, and emits rows with their 1-based rank.
  *
  * SPILL-AWARE: the heap map's bytes are registered with the task's
  * TaskMemoryManager through a MemoryConsumer, so the operator
  * participates in executor memory arbitration like SortExec does.
  * When the manager refuses more memory (or asks this consumer to
  * give some back, or the in-memory key count passes
  * maxKeysPerPartition), the current heap contents are sorted by
  * (key, order) and written to a local spill run, and the heaps
  * restart empty — rows a full heap has already discarded stay
  * discarded, which is safe because k better rows of that key are in
  * memory or a run. If nothing ever spills, emission is the original
  * heap walk (no sort across keys); with runs, a k-way merge of the
  * sorted runs + the sorted in-memory tail streams row_number ≤ k
  * per key. An unbounded key domain therefore degrades to roughly
  * the window formulation's sort-with-spills instead of OOMing.
  *
  * Wired through the full custom-operator ladder: logical node
  * (TopKPerKeyPlan) → strategy (TopKStrategy, injected via the public
  * spark.experimental.extraStrategies hook at session setup) →
  * physical UnaryExecNode with requiredChildDistribution driving the
  * exchange. Semantics are EXACTLY row_number ≤ k for a total
  * ordering, which TopKSpec asserts against the window formulation —
  * including under forced spilling.
  */
case class TopKPerKeyPlan(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    maxKeysPerPartition: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(group, order, k, maxKeys, rank, child) =>
      TopKPerKeyExec(group, order, k, maxKeys, rank, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    maxKeysPerPartition: Int,
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
    "numSpilledRuns" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "spilled sorted runs"),
    "spillSize" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createSizeMetric(sparkContext, "spill size"))

  override protected def doExecute(): RDD[InternalRow] = {
    val group = groupExprs
    val order = orderExprs
    val limit = k
    val maxKeys = maxKeysPerPartition
    val childOutput = child.output
    val out = output
    val numSpilledRuns = longMetric("numSpilledRuns")
    val spillSize = longMetric("spillSize")
    val forceSpillEvery = TopKPerKeyExec.testForceSpillEvery
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(group, childOutput)
      val ord: Ordering[InternalRow] = RowOrdering.create(order, childOutput)
      // merge/runs ordering: (key asc, order) — the row_number order
      val fullOrd: Ordering[InternalRow] = RowOrdering.create(
        group.map(SortOrder(_, Ascending)) ++ order, childOutput)
      // Children aren't guaranteed to emit UnsafeRow (an interpreted
      // operator whose partitioning already satisfies the required
      // distribution can feed this node directly) — normalize first.
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      // max-heap by ord: head = current worst of the kept k
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      val runs = new scala.collection.mutable.ArrayBuffer[java.io.File]()
      val taskCtx = org.apache.spark.TaskContext.get()

      // ---- memory accounting: every copied key/row byte is acquired
      // from the task's memory manager; refusal or an arbitration
      // callback dumps the heaps to a sorted on-disk run.
      var usedBytes = 0L    // estimate of live heap bytes
      var grantedBytes = 0L // what the manager has granted us
      // incremented by every spill: insert-path code that held a heap
      // reference across a reserve() detects the map was cleared under
      // it and re-resolves against live map state (a stale reference
      // would silently swallow the row being inserted)
      var spillEpoch = 0L
      // once the input loop finishes, the heaps back the (lazy) output
      // iterator — a downstream consumer's memory arbitration must not
      // clear them mid-emission, so spill() refuses after this point
      var buildDone = false
      def sortedHeapRows(): Array[UnsafeRow] = {
        val buf = new scala.collection.mutable.ArrayBuffer[UnsafeRow](
          heaps.size() * limit)
        heaps.values().forEach(h => h.forEach(r => { buf += r; () }))
        val arr = buf.toArray
        java.util.Arrays.sort(arr, fullOrd.asInstanceOf[java.util.Comparator[UnsafeRow]])
        arr
      }
      lazy val consumer: org.apache.spark.memory.MemoryConsumer =
        new org.apache.spark.memory.MemoryConsumer(
            org.apache.spark.graft.TaskMemoryBridge.memoryManager(taskCtx),
            org.apache.spark.graft.TaskMemoryBridge.memoryManager(taskCtx).pageSizeBytes(),
            org.apache.spark.memory.MemoryMode.ON_HEAP) {
          override def spill(size: Long, trigger: org.apache.spark.memory.MemoryConsumer): Long =
            if (buildDone) 0L else spillHeapsToRun()
        }
      def spillHeapsToRun(): Long = {
        if (heaps.isEmpty) return 0L
        val rows = sortedHeapRows()
        val file = org.apache.spark.graft.TaskMemoryBridge.createTempSpillFile()
        // no task context ⇒ no completion listener owns deletion (the
        // maxKeys threshold can still spill here) — fall back to JVM-
        // exit cleanup so context-free executions don't leak runs
        if (taskCtx == null) file.deleteOnExit()
        val dos = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(file), 1 << 16))
        try {
          rows.foreach { r =>
            dos.writeInt(r.getSizeInBytes)
            dos.write(r.getBytes)
          }
        } finally dos.close()
        runs += file
        numSpilledRuns += 1
        spillSize += file.length()
        heaps.clear()
        spillEpoch += 1
        val freed = usedBytes
        usedBytes = 0L
        if (taskCtx != null && grantedBytes > 0) consumer.freeMemory(grantedBytes)
        grantedBytes = 0L
        freed
      }
      var reserveCalls = 0L
      def reserve(bytes: Long): Unit = if (taskCtx != null) {
        reserveCalls += 1
        if (forceSpillEvery > 0 && reserveCalls % forceSpillEvery == 0) {
          // test seam: behave exactly as if the manager refused this
          // grant — flush to a run mid-reserve. This is the only way
          // to deterministically exercise the arbitration-refusal
          // path (a real refusal needs executor memory contention).
          spillHeapsToRun()
        }
        usedBytes += bytes
        if (usedBytes > grantedBytes) {
          val want = math.max(bytes, 1L << 22) // 4 MB chunks
          val got = consumer.acquireMemory(want)
          grantedBytes += got
          if (usedBytes > grantedBytes) {
            spillHeapsToRun() // manager refused: give the memory back
            // re-reserve for the row about to be inserted post-spill
            usedBytes += bytes
            grantedBytes += consumer.acquireMemory(math.max(bytes, 1L << 22))
          }
        }
      }
      if (taskCtx != null) {
        taskCtx.addTaskCompletionListener[Unit] { _ =>
          if (grantedBytes > 0) { consumer.freeMemory(grantedBytes); grantedBytes = 0 }
          runs.foreach(_.delete())
        }
      }

      while (iter.hasNext) {
        val row = toUnsafe(iter.next())
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          // in-memory key budget: past it, degrade to a sorted run
          // (NOT an error — the merge restores exact semantics)
          if (heaps.size() >= maxKeys) spillHeapsToRun()
          // reserve key AND first row together BEFORE the map gains
          // any state for this key: a spill inside this reserve only
          // flushes other keys' heaps, so nothing of ours is orphaned
          reserve(key.getSizeInBytes + row.getSizeInBytes + 96L)
          heap = new java.util.PriorityQueue[UnsafeRow](limit + 1, ord.reverse)
          heaps.put(key.copy(), heap)
          heap.add(row.copy())
        } else if (heap.size < limit) {
          val epoch = spillEpoch
          reserve(row.getSizeInBytes + 32L)
          if (spillEpoch != epoch) {
            // the reserve spilled: our heap's rows are safely in the
            // run but the map was cleared under us — a stale `heap`
            // reference would silently swallow this row. Re-create live
            // state, accounting the key copy + per-key overhead the
            // normal new-key path reserves (without it usedBytes
            // drifts low after every mid-insert spill).
            reserve(key.getSizeInBytes + 64L)
            heap = new java.util.PriorityQueue[UnsafeRow](limit + 1, ord.reverse)
            heaps.put(key.copy(), heap)
          }
          heap.add(row.copy())
        } else if (ord.lt(row, heap.peek())) {
          // replacing an equal-count row: no net accounting change
          heap.poll()
          heap.add(row.copy())
        }
      }
      // heaps now back the output iterator: freeze them against
      // arbitration-triggered spills (the rows would land in a run
      // the already-built fast-path iterator never merges)
      buildDone = true

      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      // downstream operators require UnsafeRow — normalize the output
      val outProj = UnsafeProjection.create(out, out)
      import scala.jdk.CollectionConverters._
      if (runs.isEmpty) {
        // fast path: everything fit — emit per-heap, no cross-key sort
        heaps.values().asScala.iterator.flatMap { heap =>
          val rows = heap.toArray(new Array[UnsafeRow](heap.size)).sorted(ord)
          rows.iterator.zipWithIndex.map { case (r, i) =>
            rankRow.setLong(0, i + 1L)
            outProj(joined(r, rankRow)): InternalRow
          }
        }
      } else {
        // k-way merge of the sorted runs + the sorted in-memory tail,
        // streaming row_number ≤ k per key off the (key, order) order
        val nFields = childOutput.size
        def runIter(f: java.io.File): Iterator[UnsafeRow] = {
          val dis = new java.io.DataInputStream(new java.io.BufferedInputStream(
            new java.io.FileInputStream(f), 1 << 16))
          new Iterator[UnsafeRow] {
            private var nextLen = readLen()
            private def readLen(): Int =
              try dis.readInt() catch { case _: java.io.EOFException => dis.close(); -1 }
            override def hasNext: Boolean = nextLen >= 0
            override def next(): UnsafeRow = {
              val bytes = new Array[Byte](nextLen)
              dis.readFully(bytes)
              val r = new UnsafeRow(nFields)
              r.pointTo(bytes, nextLen)
              nextLen = readLen()
              r
            }
          }
        }
        val sources: Seq[Iterator[UnsafeRow]] =
          runs.toSeq.map(runIter) :+ sortedHeapRows().iterator
        val pq = new java.util.PriorityQueue[(UnsafeRow, Iterator[UnsafeRow])](
          sources.size.max(1),
          (a: (UnsafeRow, Iterator[UnsafeRow]), b: (UnsafeRow, Iterator[UnsafeRow])) =>
            fullOrd.compare(a._1, b._1))
        sources.foreach(it => if (it.hasNext) pq.add((it.next(), it)))
        var curKey: UnsafeRow = null
        var curRank = 0L
        new Iterator[InternalRow] {
          private var pending: InternalRow = null
          private def advance(): Unit = {
            while (pending == null && !pq.isEmpty) {
              val (row, src) = pq.poll()
              if (src.hasNext) pq.add((src.next(), src))
              val key = keyProj(row)
              if (curKey == null || !key.equals(curKey)) {
                curKey = key.copy(); curRank = 1L
              } else curRank += 1L
              if (curRank <= limit) {
                rankRow.setLong(0, curRank)
                pending = outProj(joined(row, rankRow)).copy()
              }
            }
          }
          override def hasNext: Boolean = { advance(); pending != null }
          override def next(): InternalRow = {
            advance()
            val r = pending; pending = null; r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** When > 0, every Nth reserve() flushes the heaps to a run as if
    * TaskMemoryManager had refused the grant — the deterministic
    * stand-in for executor memory contention. Tests only; 0 in
    * production. The value is captured once per doExecute. */
  @volatile var testForceSpillEvery: Int = 0
}

/** DataFrame-level API for the operator. */
object TopK {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}

  /** rows of `df` ranked 1..k per key by `order` — (column, ascending)
    * pairs forming a total order for deterministic results — with a
    * `rank` column appended.
    *
    * Memory: O(distinct keys per partition × k) on-heap, acquired
    * from the task's TaskMemoryManager. When the manager refuses
    * more (or asks this operator to give memory back, or the
    * in-memory key count passes `maxKeysPerPartition`), the heaps
    * degrade to sorted on-disk runs merged at emission — the same
    * graceful path SortExec takes — so unbounded key domains
    * complete instead of OOMing; bounded domains (brands, probe ids,
    * shards) never leave the fast heap path. The default budget
    * (1M keys × k rows ≈ low hundreds of MB at k≤10) keeps the fast
    * path for every realistic bounded domain. */
  def perKey(df: DataFrame, keys: Seq[String],
             order: Seq[(String, Boolean)], k: Int,
             maxKeysPerPartition: Int = 1 << 20): DataFrame = {
    val spark = df.sparkSession
    org.apache.spark.sql.GraftFunctions.addStrategy(spark, TopKStrategy)
    val analyzed = df.queryExecution.analyzed
    val resolve = analyzed.output.map(a => a.name -> a).toMap
    val groupExprs = keys.map(resolve(_))
    val orderExprs = order.map { case (name, asc) =>
      SortOrder(resolve(name), if (asc) Ascending else Descending)
    }
    val rank = AttributeReference("rank", LongType, nullable = false)()
    org.apache.spark.sql.GraftFunctions.ofRows(spark,
      TopKPerKeyPlan(groupExprs, orderExprs, k, maxKeysPerPartition, rank, analyzed))
  }
}
