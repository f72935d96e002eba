package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, Expression, IntegerLiteral, LessThan, LessThanOrEqual,
  NamedExpression, RowNumber, SortOrder, UnsafeProjection, UnsafeRow,
  WindowExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.io.Tables

/** X-10 — grouped top-k as a WHOLE custom operator: logical plan node +
  * planner strategy + physical execution, the deepest rung of the
  * extension ladder (x2/DotF64 carry the Expression rungs,
  * DotProductRewrite the optimizer-rule rung).
  *
  * Semantics: keep the first `k` rows of each group under `order` —
  * exactly `row_number() OVER (PARTITION BY group ORDER BY order) <= k`
  * when the order is total (ties pinned by a unique trailing key, same
  * caveat as Spark's own InferWindowGroupLimit).
  *
  * Why a custom operator: the window spelling plans as
  * Exchange → FULL SORT of every group → Window(row_number) → Filter —
  * at 100 TB the sort is O(N log N) per partition, dominated by rows
  * that are immediately discarded. Spark 3.5+'s WindowGroupLimit
  * prunes rows BEFORE the sort but still sorts the survivors and still
  * runs the Window machinery. [[TopKPerGroupExec]] replaces the whole
  * stack with a bounded heap per group (size-k binary heap, O(N log k),
  * no sort, no window): a map-side PARTIAL pass caps every group at k
  * rows per input partition (≤ |groups|·k rows enter the shuffle —
  * the shuffled volume is independent of N), then the same operator
  * runs FINAL after a hash exchange on the group keys. The partial/
  * final pairing mirrors partial aggregation, so AQE sees an ordinary
  * exchange it can re-plan.
  *
  * Users keep the portable window spelling: [[TopKRewrite]] (injected
  * via [[graft.GraftExtensions]], self-registered via
  * `spark.experimental` by [[TopK.install]]) recognizes
  * `Project(Filter(rn <= k, Window(row_number)))` — with the rn column
  * projected away, which is what makes the rewrite lossless — and
  * substitutes the custom node. The strategy plans it; nothing else in
  * the query changes.
  */
object TopK {

  // ---------------------------------------------------------------- logical

  /** Keep the first `k` rows per `groupExprs` group under `order`.
    * Output schema = child schema (no rank column is produced). */
  case class TopKPerGroupPlan(
      groupExprs: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override def maxRows: Option[Long] = child.maxRows
    override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
      copy(child = newChild)
  }

  // --------------------------------------------------------------- physical

  /** Bounded-heap grouped top-k. `partial = true` caps groups within
    * each input partition (no distribution requirement); the final pass
    * requires clustering on the group keys, so EnsureRequirements
    * inserts one hash exchange between the two — the only shuffle, and
    * it carries at most |groups|·k rows per upstream partition.
    *
    * Per-task state is one k-row heap per group seen in the partition —
    * bounded by k·|groups in partition| rows regardless of input size
    * (the property the window+sort plan lacks). */
  case class TopKPerGroupExec(
      groupExprs: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      partial: Boolean,
      child: SparkPlan) extends UnaryExecNode {

    override def output: Seq[Attribute] = child.output
    override def outputPartitioning = child.outputPartitioning
    override def nodeName: String =
      if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"
    override def requiredChildDistribution: Seq[Distribution] =
      if (partial) Seq(UnspecifiedDistribution)
      else Seq(ClusteredDistribution(groupExprs))

    override lazy val metrics = Map(
      "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "number of output rows"),
      "numGroups" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "number of groups"))

    override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
      copy(child = newChild)

    override protected def doExecute(): RDD[InternalRow] = {
      val childOutput = child.output
      val groupEs = groupExprs
      val orderEs = order
      val limit = k
      val outRows = longMetric("numOutputRows")
      val nGroups = longMetric("numGroups")
      child.execute().mapPartitions({ iter =>
        // generated (codegen'd) comparator for the SortOrder spec and an
        // unsafe projection for the group key — both per-partition, on
        // the executor
        val ordering = GenerateOrdering.generate(orderEs, childOutput)
        val keyProj = UnsafeProjection.create(groupEs, childOutput)
        // max-heap of the kept rows: root = worst kept row, so an
        // incoming row replaces the root iff it orders strictly before it
        val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
        val reverse = ordering.reversed().asInstanceOf[java.util.Comparator[InternalRow]]
        while (iter.hasNext) {
          val row = iter.next()
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            heap = new java.util.PriorityQueue[InternalRow](limit, reverse)
            heaps.put(key.copy(), heap)
          }
          if (heap.size() < limit) heap.offer(row.copy())
          else if (ordering.compare(row, heap.peek()) < 0) {
            heap.poll(); heap.offer(row.copy())
          }
        }
        import scala.jdk.CollectionConverters._
        nGroups += heaps.size()
        heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
          .map { r => outRows += 1; r }
      }, preservesPartitioning = true)
    }
  }

  // --------------------------------------------------------------- strategy

  /** Plans [[TopKPerGroupPlan]] as partial → (exchange via
    * EnsureRequirements) → final [[TopKPerGroupExec]]. */
  object TopKStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerGroupPlan(g, ord, k, child) =>
        val partial = TopKPerGroupExec(g, ord, k, partial = true, planLater(child))
        TopKPerGroupExec(g, ord, k, partial = false, partial) :: Nil
      case _ => Nil
    }
  }

  // ------------------------------------------------------------------ rule

  /** Rewrites the portable grouped-top-k window spelling into
    * [[TopKPerGroupPlan]]:
    *
    *   Project(p, Filter(rn <= k, Window(rn := row_number() OVER
    *     (PARTITION BY g ORDER BY o), child)))   — rn ∉ p
    *
    * Fires only when (a) the window computes exactly one expression and
    * it is `row_number()`, (b) the filter bounds that attribute with a
    * literal (`<= k` or `< k+1`), and (c) the projection above discards
    * the rank attribute — the conditions under which dropping the
    * Window entirely is semantics-preserving. Handles the shape both
    * before and after Spark's InferWindowGroupLimit has run (strips the
    * WindowGroupLimit node it inserts below the Window).
    */
  object TopKRewrite extends Rule[LogicalPlan] {
    private def limitOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k)
      case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k - 1)
      // rn = 1 is the latest/first-per-key idiom (rn = k for k > 1 is a
      // single rank slice, NOT a top-k — only 1 coincides)
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Some(1)
      case _ => None
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case p @ Project(projList,
          Filter(cond, Window(Seq(al @ Alias(WindowExpression(RowNumber(), _), _)),
            part, ord, wchild, _))) =>
        val rn = al.toAttribute
        limitOf(cond, rn) match {
          case Some(k) if k > 0 && part.nonEmpty &&
              !projList.exists(_.references.contains(rn)) =>
            // part.isEmpty (global top-k) stays with Spark's own
            // TakeOrderedAndProject path
            // InferWindowGroupLimit (a later batch than injected rules,
            // an earlier one than experimental extraOptimizations) may
            // already have inserted its pruning node — ours subsumes it
            val base = wchild match {
              case WindowGroupLimit(_, _, _, _, grandchild) => grandchild
              case other => other
            }
            Project(projList, TopKPerGroupPlan(part, ord, k, base))
          case _ => p
        }
    }
  }

  // ----------------------------------------------------------- installation

  /** Defensive in-session registration (mirrors
    * NativeFunctions.register): the library works without
    * `spark.sql.extensions=graft.GraftExtensions`, through the public
    * `spark.experimental` seams. Idempotent. */
  def install(s: SparkSession): Unit = synchronized {
    if (!s.experimental.extraStrategies.exists(_.isInstanceOf[TopKStrategy.type]))
      s.experimental.extraStrategies = TopKStrategy +: s.experimental.extraStrategies
    if (!s.experimental.extraOptimizations.exists(_.isInstanceOf[TopKRewrite.type]))
      s.experimental.extraOptimizations = TopKRewrite +: s.experimental.extraOptimizations
  }

  // ---------------------------------------------------------------- entries

  /** x10 — top-3 highest-value orders per order priority, written in
    * the PORTABLE window spelling; TopKRewrite + TopKStrategy turn it
    * into the heap-based plan (spec-asserted: no WindowExec, no sort
    * below the top-k). Ties are impossible: (cents, o_orderkey) is
    * unique. */
  def x10TopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    install(s)
    val o = Tables.orders(s, dir)
      .select($"o_orderpriority", $"o_orderkey",
        round($"o_totalprice" * 100).cast("bigint").as("cents"))
    o.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"o_orderpriority")
          .orderBy($"cents".desc, $"o_orderkey".asc)))
      .filter($"rn" <= 3)
      .select($"o_orderpriority", $"o_orderkey", $"cents")
  }

  val oracles: Map[String, String] = Map(
    "x10_topk_pergroup" ->
      """SELECT o_orderpriority, o_orderkey, cents FROM (
           SELECT o_orderpriority, o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                             o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x10_topk_pergroup" -> x10TopKPerGroup _,
  )
}
