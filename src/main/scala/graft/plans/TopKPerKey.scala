package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Grouped top-k as a first-class operator — the full custom-operator
  * path (SURVEY §7.3 preference (c)): `LogicalPlan` node → planner
  * `Strategy` → physical `SparkPlan`.
  *
  * Why not the built-in pattern? `row_number().over(partitionBy k
  * orderBy v) … WHERE rn <= k` (q19) fully SORTS every key group after
  * the shuffle — O(n log n) per group and the whole group materialized.
  * This operator keeps a bounded k-heap per key on BOTH sides of the
  * exchange if you pre-aggregate, and here per partition after one hash
  * exchange: O(n log k) and O(k) memory per key, no sort of the full
  * group — the difference between "top 3 of 3" and "sort 3 billion rows
  * per key" at 100 TB.
  *
  * The node arrives resolved (attributes are taken from the child's
  * analyzed output), so no analyzer rule is needed; the strategy is
  * injected by `graft.GraftExtensions`, which every engine session
  * loads, so [[TopKPerKey.topKPerKey]] plans only on such a session.
  */
case class TopKPerKeyNode(
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      // two-phase like an aggregate: a map-side partial top-k runs
      // before the exchange (any global per-key top-k row is also in
      // its partition's per-key top-k), so a hot key ships at most
      // k rows per input partition instead of all of them
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Memory contract (the operator's 100 TB rationale depends on it):
  *
  *   - PARTIAL phase (pre-exchange) sees every key in every partition,
  *     so its heap map is bounded explicitly: when it reaches
  *     `graft.topk.maxPartialKeys` distinct keys (default 65536) the
  *     current heaps are emitted and the map cleared. Sound because a
  *     row in the global top-k of its key is in the top-k of ANY
  *     segment containing it — flushing only forwards extra rows for
  *     the final phase to prune. Worst case the partial degrades to a
  *     pass-through, never to an OOM.
  *   - FINAL phase (post-exchange) holds one ≤k-row heap per distinct
  *     key of its partition: memory ≈ (distinct keys / shuffle
  *     partitions) · k · rowsize. A flush is NOT sound here (output
  *     must be exact), so extreme key cardinality is provisioned by
  *     raising spark.sql.shuffle.partitions, exactly like Spark's own
  *     hash aggregate provisions its fallback.
  */
case class TopKPerKeyExec(
    keys: Seq[Attribute],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  /** Final phase: one hash exchange on the keys (Catalyst inserts it,
    * or reuses a compatible partitioning). Partial phase: runs on
    * whatever partitioning the child has. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) super.requiredChildDistribution
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val isPartial = partial
    val maxPartialKeys = conf.getConfString("graft.topk.maxPartialKeys", "65536").toInt
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      val ordering = GenerateOrdering.generate(sortOrder, schema)
      // head of each queue = the WORST row currently kept (reverse order)
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()

      def drain(): Iterator[InternalRow] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        heaps.values().forEach { pq =>
          val rows = pq.toArray(new Array[InternalRow](pq.size()))
          java.util.Arrays.sort(rows, ordering)
          out ++= rows
        }
        heaps.clear()
        out.iterator
      }

      new Iterator[InternalRow] {
        private var pending: Iterator[InternalRow] = Iterator.empty

        private def fill(): Unit = {
          while (!pending.hasNext && (iter.hasNext || !heaps.isEmpty)) {
            if (!iter.hasNext) pending = drain()
            else {
              var flushed = false
              while (!flushed && iter.hasNext) {
                val row = iter.next()
                val key = keyProj(row)
                var pq = heaps.get(key)
                if (pq == null) {
                  // partial-phase memory bound: emit and restart rather
                  // than grow past the cap (see the class scaladoc)
                  if (isPartial && heaps.size() >= maxPartialKeys) {
                    pending = drain()
                    flushed = true
                  }
                  pq = new java.util.PriorityQueue[InternalRow](limit + 1, ordering.reversed())
                  heaps.put(key.copy(), pq)
                }
                if (pq.size() < limit) pq.add(row.copy())
                else if (ordering.compare(row, pq.peek()) < 0) { // better than worst kept
                  pq.poll()
                  pq.add(row.copy())
                }
              }
            }
          }
        }

        override def hasNext: Boolean = { fill(); pending.hasNext }
        override def next(): InternalRow = { fill(); pending.next() }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKey {

  /** Top `k` rows per distinct value of `keyCols`, ranked by `orderCol`
    * (+`tiebreakCols` ascending for determinism). */
  def topKPerKey(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      descending: Boolean,
      k: Int,
      tiebreakCols: Seq[String] = Nil): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k (k=0 would NPE on the empty heap's peek)")
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    def attr(name: String): Attribute = child.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"column '$name' not in ${child.output.map(_.name).mkString(", ")}"))
    val order = SortOrder(attr(orderCol), if (descending) Descending else Ascending) +:
      tiebreakCols.map(c => SortOrder(attr(c), Ascending))
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      TopKPerKeyNode(keyCols.map(attr), order, k, child))
  }
}
