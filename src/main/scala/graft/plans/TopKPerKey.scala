package graft.plans

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator custom plan (SURVEY §7.3 tier (c)): top-k rows per key
  * WITHOUT a per-partition sort.
  *
  * `Window.partitionBy(key).orderBy(o) + row_number <= k` sorts and fully
  * materializes every partition before filtering; this operator keeps one
  * bounded k-heap per key — O(n log k) compares, memory O(keys·k).
  *
  * Measured honestly (graft.BenchTopK, a micro-bench removed after commit
  * c920517; 20M rows × 1000 keys, k=5, local[32]): comparable wall time
  * to the window plan while it fits in
  * memory (~1.5 s vs ~1.9 s — Tungsten's codegen'd sort is excellent). The
  * heap's advantage is the MEMORY BOUND: a partition that exceeds executor
  * memory makes the sort spill to disk, while heap state stays O(keys·k)
  * regardless of partition size — that, not raw speed, is the 100 TB
  * argument. Same required distribution (one key shuffle), so the plan
  * shape is otherwise identical.
  *
  * Wired the idiomatic way: a LogicalPlan node + a SparkStrategy planning
  * it to a physical UnaryExecNode, registered via
  * `spark.experimental.extraStrategies` (done lazily by [[TopK.perKey]])
  * or `GraftExtensions` (spark.sql.extensions).
  */
final case class TopKPerKeyLogical(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyLogical =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyLogical(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: a Filter conjunct that references ONLY key ATTRIBUTES
  * commutes with per-key top-k (keys partition the rows — dropping whole
  * groups before or after selecting each group's top k is identical).
  * Mixed predicates are SPLIT: key-only conjuncts push below, the rest
  * stays above. The commutation argument needs the keys to be bare
  * attributes — with an expression key like `a % 10`, a predicate on `a`
  * drops rows WITHIN groups, so such nodes are left untouched.
  *
  * Registration caveat: `experimental.extraOptimizations` runs in the LAST
  * optimizer batch — after DataSource V2 scan pushdown — so the pushed
  * filter reaches the scan for V1 sources (parquet default). For V2
  * sources register through `GraftExtensions` (injectOptimizerRule), which
  * runs early enough.
  */
object PushFilterThroughTopK
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, t: TopKPerKeyLogical)
        if t.keys.forall(_.isInstanceOf[Attribute]) =>
      val keyAttrs = AttributeSet(t.keys.flatMap(_.references))
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(c => c.deterministic && c.references.subsetOf(keyAttrs))
      if (push.isEmpty) f
      else {
        val pushed = t.copy(child = Filter(push.reduce(And), t.child))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

final case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  /** One shuffle on the keys; NO required ordering — that's the point. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val kk = k
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // max-heap under ord: head = currently-worst of the best k
      val heapOrd: Ordering[InternalRow] = (a, b) => ord.compare(a, b)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      for (row <- it) {
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](heapOrd)
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < kk) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      heaps.iterator.flatMap { case (_, heap) =>
        heap.dequeueAll.reverseIterator // ascending under ord
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Public API. */
object TopK {

  /** One sort spec: column name + direction. */
  final case class Order(column: String, ascending: Boolean = true)

  /** Top-k rows per key group, ranked by `order`. Result contains every
    * input column; within a key, rows come back in rank order. Provide a
    * TOTAL order (unique tie-break column) for partition-invariant results
    * — the same requirement `row_number` has.
    *
    * Columns are resolved by name against the analyzed child, so the
    * custom logical node enters the planner fully resolved (Spark 4's
    * ColumnNode wrappers are only converted inside built-in operators).
    */
  def perKey(df: DataFrame, keyCols: Seq[String], order: Seq[Order], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(keyCols.nonEmpty,
      "keyCols must be non-empty (for global top-k use orderBy().limit())")
    require(order.nonEmpty, "order must be non-empty")
    val spark = df.sparkSession
    // registration is read-modify-write on shared vars — synchronize so a
    // concurrent first call cannot lose the strategy/rule
    TopK.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKStrategy
      if (!spark.experimental.extraOptimizations.contains(PushFilterThroughTopK))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ PushFilterThroughTopK
    }
    val analyzed = df.queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    def attr(n: String): Attribute = {
      val hits = analyzed.output.filter(a => resolver(a.name, n))
      require(hits.size == 1,
        s"column $n resolves to ${hits.size} attributes in " +
          s"[${analyzed.output.map(_.name).mkString(", ")}]")
      hits.head
    }
    val keyExprs: Seq[Expression] = keyCols.map(attr)
    val sortOrder = order.map(o =>
      SortOrder(attr(o.column), if (o.ascending) Ascending else Descending))
    GraftSqlBridge.ofRows(spark,
      TopKPerKeyLogical(keyExprs, sortOrder, k, analyzed))
  }
}
