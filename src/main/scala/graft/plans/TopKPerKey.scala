package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator stack (SURVEY prompt preference (c)): top-k rows
  * per key WITHOUT a per-partition sort.
  *
  * Spark expresses per-key top-k as `row_number().over(Window.partitionBy
  * (keys).orderBy(ord))` + filter — which sorts every partition: O(n log n)
  * per partition and materializes full sorted runs. For small k this
  * operator keeps a bounded k-element heap per key instead: O(n log k),
  * no sort buffers, no spill pressure — the difference between "sort 100 TB"
  * and "stream 100 TB through fixed-size state".
  *
  * The planner emits a TWO-PHASE pair, aggregation-style: a `partial` exec
  * runs pre-shuffle on whatever partitioning the child has (per-partition
  * top-k per key is a correct partial: the global winners are a subset of
  * the per-partition winners), so the exchange carries at most
  * k·keys·partitions rows instead of every input row; the `final` exec
  * declares a ClusteredDistribution and Catalyst inserts the single hash
  * shuffle between them.
  *
  * NULL ordering: rows whose ordering expression is null rank WORST in both
  * directions (`desc_nulls_last` / `asc_nulls_last`) — they surface only
  * when a group has fewer than k non-null rows. This is the window parity
  * tested by TopKSpec (Spark's bare `desc` default is also nulls-last;
  * bare `asc` would be nulls-first — we deliberately pin nulls-last for
  * both, documented on [[TopK.perKey]]).
  *
  * Pieces: [[TopKPerKeyNode]] (logical), [[TopKStrategy]] (planner rule),
  * [[TopKPerKeyExec]] (physical ×2), wired via [[graft.plans.GraftExtensions]],
  * which `Engine.session` installs.
  */
case class TopKPerKeyNode(keys: Seq[Expression], ord: Expression, k: Int,
    descending: Boolean, child: LogicalPlan) extends UnaryNode {
  require(k > 0)
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

class TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, ord, k, desc, child) =>
      val partial = TopKPerKeyExec(keys, ord, k, desc, partial = true, planLater(child))
      TopKPerKeyExec(keys, ord, k, desc, partial = false, partial) :: Nil
    case _ => Nil
  }
}

object TopKPerKeyExec {
  /** Rows each partial-pass partition accumulates before deciding whether
    * its input reduces at all (Spark's partial-aggregation skip pattern,
    * `spark.sql.aggregate.skipPartialAggregate`-style). With n/10 distinct
    * keys randomly partitioned — the w5 shape — each key appears ≈once per
    * partition, the partial emits ~every row anyway, and its per-row
    * UnsafeRow copy + per-key heap allocation is pure overhead (measured:
    * w5 went 45.8×/decade at sf100, 4.5 s → 206.8 s, on exactly this
    * regime). Sampling is per-partition and the decision is one-way
    * (accumulate → pass-through), so a skewed partition that DOES reduce
    * keeps the partial benefit. */
  val BypassSampleRows = 4096
  /** Bypass when the sampled distinct-key count exceeds this fraction of
    * sampled rows — i.e. the partial would emit most of its input anyway.
    * Emitting extra rows from a partial is always CORRECT (the final pass
    * re-selects the global top-k); the threshold only trades shuffle bytes
    * against per-row partial cost. */
  val BypassKeyRatio = 0.5
}

case class TopKPerKeyExec(keys: Seq[Expression], ord: Expression, k: Int,
    descending: Boolean, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  // partial runs wherever the child's rows already are; the final pass
  // declares the single hash shuffle on the keys (Catalyst inserts it)
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial || keys.isEmpty) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val ordExpr = ord
    val kk = k
    val desc = descending
    val isPartial = partial
    val childOutput = child.output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val boundOrd = BindReferences.bindReference(ordExpr, childOutput)
      val baseOrdering =
        TypeUtils.getInterpretedOrdering(ordExpr.dataType).asInstanceOf[Ordering[Any]]
      // preference: higher = better = kept. Nulls are the global minimum
      // (nulls-last in both directions, see class doc).
      def prefCompare(a: Any, b: Any): Int =
        if (a == null && b == null) 0
        else if (a == null) -1
        else if (b == null) 1
        else if (desc) baseOrdering.compare(a, b)
        else -baseOrdering.compare(a, b)
      // heap root (dequeue target) = currently-worst retained row
      val worstFirst: Ordering[(Any, UnsafeRow)] = new Ordering[(Any, UnsafeRow)] {
        override def compare(x: (Any, UnsafeRow), y: (Any, UnsafeRow)): Int =
          prefCompare(y._1, x._1) // reversed: max of this ordering = worst
      }
      val heaps = new java.util.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[(Any, UnsafeRow)]]()
      def accumulate(row: InternalRow): Unit = {
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue.empty[(Any, UnsafeRow)](worstFirst)
          heaps.put(key.copy(), heap)
        }
        val v = boundOrd.eval(row)
        // a struct-typed ord (tiebreak mode) evals to a VIEW into the input
        // row's buffer, which the iterator reuses — copy before retaining
        def retained: Any = v match {
          case r: InternalRow => r.copy()
          case other => other
        }
        if (heap.size < kk) {
          heap.enqueue((retained, row.asInstanceOf[UnsafeRow].copy()))
        } else if (prefCompare(v, heap.head._1) > 0) {
          heap.dequeue()
          heap.enqueue((retained, row.asInstanceOf[UnsafeRow].copy()))
        }
      }
      def flush(): Iterator[InternalRow] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        heaps.values().forEach { h => h.foreach { case (_, r) => out += r } }
        out.iterator
      }
      if (isPartial && keyExprs.nonEmpty) {
        // reduction-aware bypass (see TopKPerKeyExec.BypassSampleRows):
        // accumulate a sample; if the partition shows almost no per-key
        // reduction, emit the buffered state and stream the remaining rows
        // through UNTOUCHED — no copies, no heaps, no hashing. Extra rows
        // out of a partial are re-filtered by the final pass, so the bypass
        // can only trade shuffle volume for per-row cost, never results.
        var seen = 0
        while (iter.hasNext && seen < TopKPerKeyExec.BypassSampleRows) {
          accumulate(iter.next()); seen += 1
        }
        val noReduction = iter.hasNext &&
          heaps.size.toDouble > TopKPerKeyExec.BypassKeyRatio * seen
        if (noReduction) flush() ++ iter
        else { iter.foreach(accumulate); flush() }
      } else {
        iter.foreach(accumulate)
        flush()
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
