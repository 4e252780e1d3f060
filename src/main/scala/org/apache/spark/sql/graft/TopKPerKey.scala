package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension demo (SURVEY §7.6): top-k-per-key as a
  * first-class plan node — custom `LogicalPlan` + `SparkStrategy` +
  * two-phase `SparkPlan` — the machinery to reach for when a plan
  * shape must be FORCED and no composition of built-ins produces it.
  *
  * The composition (`row_number().over(partitionBy(key).orderBy(...))
  * .filter(rank <= k)`) plans as Sort → WindowGroupLimit → Window →
  * Filter: per-key state is bounded, but every input partition is
  * fully SORTED before the shuffle and again after. This node plans
  *
  *   TopKPerKeyExec(final) ← Exchange(hash by key) ← TopKPerKeyExec(partial)
  *
  * where each phase keeps a bounded per-key HEAP (O(rows·log k), no
  * sort) and the Exchange moves at most `partitions × keys × k` rows —
  * the partial phase is the map-side combine of top-k. At 100 TB the
  * difference is a full per-partition sort of the corpus vs one heap
  * pass.
  *
  * Ties: rows ranked equal to the k-th under `order` are broken
  * arbitrarily (matching `row_number`'s tie behavior only when `order`
  * is total) — pass a total order (e.g. tie-break on a unique id) for
  * deterministic output, as with any top-k.
  */
case class TopKPerKeyPlan(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: LogicalPlan,
                          maxKeysInMemory: Int = 1 << 20) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Physical top-k-per-key: one bounded heap per key per partition.
  * `partial = true` runs before the key Exchange (map-side combine:
  * emits ≤ keys·k rows per input partition with no distribution
  * requirement); `partial = false` declares `ClusteredDistribution` on
  * the keys, so `EnsureRequirements` inserts the hash Exchange, and
  * produces the exact per-key top-k.
  *
  * Memory bound: the partial phase's heap map holds (distinct keys in
  * the partition) × k rows. On high-cardinality keys that can exceed
  * memory, so when the map passes `maxKeysInMemory` the partial phase
  * EMITS its buffer and resets — still correct, because a partial
  * phase is only a superset filter (everything it emits re-reduces in
  * the final phase); the trade is a bigger Exchange, not a wrong
  * answer. The final phase runs after the key Exchange, so its map is
  * bounded by the keys of one task's hash range (the same bound as
  * hash aggregation). */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, partial: Boolean, child: SparkPlan,
                          maxKeysInMemory: Int = 1 << 20)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution) else Seq(ClusteredDistribution(keys))
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val maxKeys = math.max(1, maxKeysInMemory)
    val isPartial = partial
    child.execute().mapPartitionsInternal { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val ordering = GenerateOrdering.generate(sortOrder, childOutput)
      // chunked emit-and-reset: fill the heap map until the partial cap
      // would be exceeded, stream that chunk out, start a fresh map —
      // at most one chunk of (maxKeys × k) rows is ever live
      new Iterator[InternalRow] {
        private var pending: UnsafeRow = null // overflow row, already copied
        private var out: Iterator[InternalRow] = Iterator.empty

        private def refill(): Unit = {
          // head of each heap = WORST retained row (reverse order), so
          // an incoming better row evicts in O(log k)
          val heaps =
            new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
          def insert(row: InternalRow, key: UnsafeRow): Boolean = {
            var heap = heaps.get(key)
            if (heap == null) {
              if (isPartial && heaps.size() >= maxKeys) return false
              heap = new java.util.PriorityQueue[InternalRow](limit, ordering.reverse)
              heaps.put(key.copy(), heap)
            }
            if (heap.size() < limit) heap.add(toUnsafe(row).copy())
            else if (ordering.compare(row, heap.peek()) < 0) {
              heap.poll()
              heap.add(toUnsafe(row).copy())
            }
            true
          }
          if (pending != null) {
            val p = pending
            pending = null
            insert(p, keyProj(p)) // fresh map: always fits
          }
          var overflow = false
          while (!overflow && iter.hasNext) {
            val row = iter.next()
            if (!insert(row, keyProj(row))) {
              // the (maxKeys+1)-th key: close this chunk, carry the row
              pending = toUnsafe(row).copy()
              overflow = true
            }
          }
          out = heaps.values().asScala.iterator.flatMap(_.iterator().asScala)
        }

        override def hasNext: Boolean = {
          while (!out.hasNext && (pending != null || iter.hasNext)) refill()
          out.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          out.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans [[TopKPerKeyPlan]] as partial → (Exchange via
  * EnsureRequirements) → final. Installed on first use through
  * `experimental.extraStrategies` ([[TopKPerKey.ensureStrategy]]). */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child, maxKeys) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child), maxKeys),
        maxKeys) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  /** Register the strategy on the session; [[apply]] calls this, so
    * any session plans the node. Idempotent. */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    if (!s.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ TopKPerKeyStrategy
  }

  /** The `k` best rows per key group under `order` (ascending unless
    * the Column carries an explicit sort order, e.g. `col.desc`). */
  def apply(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column],
            k: Int, maxKeysInMemory: Int = 1 << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(keyCols.nonEmpty, "need at least one key column")
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    ensureStrategy(session)
    // eager conversion: `ExpressionUtils.expression` would only wrap the
    // node lazily, hiding the SortOrder that `col.desc` carries from the
    // match below; the converter yields the real tree, which the analyzer
    // resolves against the child as usual
    def toExpression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)
    val keys = keyCols.map(toExpression)
    val order = orderCols.map(c => toExpression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    classic.Dataset.ofRows(session,
      TopKPerKeyPlan(keys, order, k, df.queryExecution.analyzed, maxKeysInMemory))
  }
}
