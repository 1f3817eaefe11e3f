package graft.plans

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, RowOrdering, SortOrder, SortPrefix, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SortExec, SortPrefixUtils, SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Query-stage-prep rule: an explicit multi-key sort radix-sorts on its
  * leading key, then a streaming pass orders each run of leading-key ties.
  *
  * Why: the reference's flagship benchmark is Terasort (reference
  * `README.md:49-53`), and its headline Spark result is the reduce stage
  * (BASELINE.md: "reduce-stage completion time −80%", "Terasort, reduce
  * stage of 1st shuffle 2× faster"). Spark's `SortExec` radix-sorts only a
  * ONE-key sort whose key sorts fully on its 64-bit prefix; q19 sorts on
  * `(l_extendedprice, l_orderkey, l_linenumber)`, so its reduce stage ran
  * a comparison TimSort. Rewritten, the reduce stage radix-sorts the
  * leading key and compares rows only within runs of equal leading keys.
  *
  * Eligible: `SortExec(order, global, child)` with
  *   - `order.length >= 2`;
  *   - a leading key that sorts fully on its prefix
  *     (`SortPrefixUtils.canSortFullyWithPrefix`: integral, date/timestamp,
  *     float/double, decimal of at most 18 digits);
  *   - `spark.sql.sort.enableRadixSort` on;
  *   - an EXPLICIT sort: the parent requires no ordering of that child.
  *     Sorts that `EnsureRequirements` puts under a sort-merge join, a
  *     window or a sort aggregate are left alone: their parent's ordering
  *     requirement is what keeps them, and this rule does not re-plan the
  *     requirement it would have to satisfy in their place.
  *
  * Rewritten to `TieRunSortExec(order, global, SortExec(order.take(1),
  * global = false, child))`: the inner node is Spark's own codegen'd sort,
  * now radix-sorting the leading key (with Spark's spill and metrics).
  *
  * Only plans that go through AQE see this rule (it is a query-stage-prep
  * rule): a plan with no exchange and no subquery keeps its `SortExec`.
  */
object TieRunSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (conf.enableRadixSort) rewrite(plan, explicit = true) else plan

  private def eligible(order: Seq[SortOrder]): Boolean =
    order.length >= 2 && SortPrefixUtils.canSortFullyWithPrefix(order.head)

  private def rewrite(plan: SparkPlan, explicit: Boolean): SparkPlan = {
    val kids = plan.children.zipWithIndex.map { case (c, i) =>
      rewrite(c, plan.requiredChildOrdering.lift(i).exists(_.isEmpty))
    }
    plan.withNewChildren(kids) match {
      case SortExec(order, global, child, _) if explicit && eligible(order) =>
        TieRunSortExec(order, global, SortExec(order.take(1), global = false, child))
      case other => other
    }
  }
}

/** Orders the runs of leading-key ties of a child sorted on `sortOrder.head`.
  *
  * Each run of rows whose leading keys compare equal under an ordering on
  * `sortOrder.head` (so with the sort's own null, NaN and −0.0 semantics) is
  * buffered as copied rows and stably sorted by the full ordering. A run
  * longer than [[TieRunSortExec.MaxBufferedRun]] rows goes into an
  * `UnsafeExternalRowSorter` instead, so a low-cardinality leading key spills
  * under the task memory manager rather than growing an on-heap buffer.
  *
  * Stability: the inner radix sort (LSD) and the run sort are both stable,
  * so in memory the output order equals a one-pass `SortExec(sortOrder)`,
  * ties on every key included, with one exception that is Spark's: when a
  * partition holds null leading keys, the radix sort moves a non-null row
  * to the end each time it places a null (`UnsafeInMemorySorter
  * .insertRecord`), so rows that tie on every key may reorder. As with
  * `SortExec`, such rows may also reorder once a sort spills and merges.
  */
case class TieRunSortExec(sortOrder: Seq[SortOrder], global: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = sortOrder
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(sortOrder.take(1))
  override def requiredChildDistribution: Seq[Distribution] =
    if (global) OrderedDistribution(sortOrder) :: Nil else UnspecifiedDistribution :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "sorterRuns" -> SQLMetrics.createMetric(sparkContext, "tie runs sorted by the external sorter"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"))

  protected override def doExecute(): RDD[InternalRow] = {
    val sorterRuns = longMetric("sorterRuns")
    val spillSize = longMetric("spillSize")
    val (order, attrs) = (sortOrder, output)
    child.execute().mapPartitions(iter =>
      new TieRunSortExec.Runs(iter.asInstanceOf[Iterator[UnsafeRow]], order, attrs,
        sorterRuns, spillSize), preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TieRunSortExec =
    copy(child = newChild)
}

object TieRunSortExec {

  /** Rows of one tie run held on heap before the run moves to the sorter. */
  val MaxBufferedRun = 4096

  /** The output of one partition, one run at a time. */
  private final class Runs(
      input: Iterator[UnsafeRow], order: Seq[SortOrder], attrs: Seq[Attribute],
      sorterRuns: SQLMetric, spillSize: SQLMetric)
    extends Iterator[InternalRow] {

    private val lead = RowOrdering.create(order.take(1), attrs)
    private val full = RowOrdering.create(order, attrs)
    private val run = new Array[UnsafeRow](MaxBufferedRun)
    private var len = 0
    private var pos = 0
    private var lookahead: UnsafeRow = null // first row of the next run, copied
    private var sorted: Iterator[InternalRow] = Iterator.empty // a sorter's run

    override def hasNext: Boolean = pos < len || sorted.hasNext || nextRun()

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      if (pos < len) { pos += 1; run(pos - 1) } else sorted.next()
    }

    /** Reads the next run into `run` or `sorted`; false at the end. */
    private def nextRun(): Boolean = {
      len = 0
      pos = 0
      if (lookahead == null && input.hasNext) lookahead = input.next().copy()
      if (lookahead == null) return false
      val first = lookahead
      lookahead = null
      run(0) = first
      len = 1
      while (lookahead == null && input.hasNext) {
        val row = input.next()
        if (lead.compare(first, row) != 0) lookahead = row.copy()
        else if (len < MaxBufferedRun) { run(len) = row.copy(); len += 1 }
        else return sortExternally(first, row)
      }
      if (len > 1) java.util.Arrays.sort[InternalRow](run.asInstanceOf[Array[InternalRow]], 0, len, full)
      true
    }

    /** Moves the buffered run, `row` and the rest of the run into a sorter. */
    private def sortExternally(first: UnsafeRow, row: UnsafeRow): Boolean = {
      val metrics = TaskContext.get().taskMetrics()
      val spilled0 = metrics.memoryBytesSpilled
      val sorter = newSorter()
      run.iterator.take(len).foreach(sorter.insertRow)
      len = 0
      sorter.insertRow(row)
      while (lookahead == null && input.hasNext) {
        val r = input.next()
        if (lead.compare(first, r) != 0) lookahead = r.copy() else sorter.insertRow(r)
      }
      sorted = sorter.sort()
      sorterRuns += 1
      spillSize += metrics.memoryBytesSpilled - spilled0
      true
    }

    // Within a run every leading key ties, so the sorter's prefix comes from
    // the second key. No radix sort here: it would reorder rows tied on
    // every key whenever it placed a null second key.
    private lazy val second = BindReferences.bindReference(order(1), attrs)
    private lazy val prefixExpr = SortPrefix(second)
    private lazy val prefixProjection = UnsafeProjection.create(Seq(prefixExpr))

    private def newSorter(): UnsafeExternalRowSorter = {
      val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
        private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
        override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
          val prefix = prefixProjection(row)
          result.isNull = prefix.isNullAt(0)
          result.value = if (result.isNull) prefixExpr.nullValue else prefix.getLong(0)
          result
        }
      }
      UnsafeExternalRowSorter.create(DataTypeUtils.fromAttributes(attrs), full,
        SortPrefixUtils.getPrefixComparator(second), prefixComputer,
        SparkEnv.get.memoryManager.pageSizeBytes, false)
    }
  }
}
