package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NullsFirst, RowNumber, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator escalation (SURVEY §7.3 rung (c) — custom LogicalPlan +
  * SparkStrategy + SparkPlan, registered through SparkSessionExtensions):
  * per-key top-k without a per-group sort.
  *
  * Spark's native formulation — `row_number().over(Window.partitionBy(k)
  * .orderBy(o)) <= k` — shuffles EVERY row of every group, then fully
  * sorts each partition before discarding all but k rows per group. At
  * 100 TB the shuffle carries the whole input and the sort is the
  * dominant cost, for an operator whose output is k·|keys| rows.
  *
  * [[TopKPerKeyExec]] instead runs in two phases, mirroring partial
  * aggregation:
  *  1. map-side partial: one pass per input partition holding a bounded
  *     k-heap per key — emits ≤ k·(keys per partition) rows;
  *  2. shuffle BY KEY of only those survivors (EnsureRequirements inserts
  *     the exchange for the final phase's ClusteredDistribution), then the
  *     same bounded-heap pass merges them exactly.
  * The shuffle volume drops from |input| to ≤ k·|keys|·partitions, and no
  * full sort ever happens — per-row cost is a heap peek (O(1) for rows
  * that don't make the top-k) instead of a sort's O(log n) per comparison.
  *
  * Determinism contract (same as every graft query): `order` must be a
  * TOTAL order (include a tiebreak column) — then the result set equals
  * the window formulation's row-for-row (asserted in TopKPerKeySpec).
  * Memory: one k-row heap per distinct key per task — the same
  * keys-resident assumption whole-stage hash aggregation makes; for
  * extreme per-task key cardinality, reduce input partition key spread
  * (repartition by key first) rather than spilling heaps.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                      child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"k must be >= 1 (got $k)")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Physical two-phase bounded-heap top-k per key. `isFinal=false` is the
  * map-side partial pass; `isFinal=true` demands clustering by key and
  * produces the exact result. */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                          isFinal: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (isFinal) ClusteredDistribution(keys) :: Nil
    else UnspecifiedDistribution :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrders = order
    val limit = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // RowOrdering honors each SortOrder's direction/null ordering:
      // "smallest first" under this ordering == first rows of the sort.
      val ord = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .create(sortOrders, childOutput)
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      // max-heap under ord: head is the WORST row currently kept
      val cmp = ord.reverse
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var pq = heaps.get(key)
        if (pq == null) {
          pq = new java.util.PriorityQueue[InternalRow](limit + 1, cmp)
          heaps.put(key.copy(), pq)
        }
        if (pq.size() < limit) pq.add(row.copy())
        else if (ord.compare(row, pq.peek()) < 0) {
          pq.poll()
          pq.add(row.copy())
        }
      }
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans [[TopKPerKey]] as partial → (exchange via EnsureRequirements) →
  * final. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, isFinal = true,
        TopKPerKeyExec(keys, order, k, isFinal = false, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Optimizer rewrite (the Rule[LogicalPlan] rung of the escalation
  * ladder): recognize the canonical window top-k idiom —
  *
  *   Project(cols…, Filter(rn <= k, Window([row_number() AS rn], part, ord)))
  *
  * where the rank column is used ONLY by the filter and then dropped —
  * and replace it with [[TopKPerKey]], turning a
  * shuffle-everything + sort-every-group plan into the two-phase
  * bounded-heap operator. Fires only when:
  *  - the window computes exactly one expression, a bare row_number;
  *  - the filter bounds it by a literal (rn <= k, rn < k, rn = 1, and
  *    mirrored forms);
  *  - the project above references nothing the window added (so the rank
  *    values themselves are dead — selection, not ranking).
  * Under a total order the kept set is identical; under ties both
  * formulations are nondeterministic in the same way (row_number's tie
  * choice is partition-order-dependent too).
  *
  * On in every `GraftSession` session, once: GraftExtensions injects it,
  * and [[TopKPerKeyPlans.ensureRewrite]] adds it to experimental
  * extraOptimizations of a live session that lacks it.
  * `spark.sql.optimizer.excludedRules` switches it off.
  */
object WindowTopKRewrite extends Rule[LogicalPlan] {

  /** Extract k such that the condition means rank <= k. Long arithmetic:
    * `rn < Int.MinValue` must stay an always-false bound, not wrap to
    * top-Int.MaxValue. */
  private def rankBound(cond: Expression, rn: Attribute): Option[Long] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, _)) if a.semanticEquals(rn) => Some(k.toLong)
    case LessThan(a: Attribute, Literal(k: Int, _)) if a.semanticEquals(rn) => Some(k.toLong - 1)
    case EqualTo(a: Attribute, Literal(1, _)) if a.semanticEquals(rn) => Some(1L)
    case EqualTo(Literal(1, _), a: Attribute) if a.semanticEquals(rn) => Some(1L)
    case GreaterThanOrEqual(Literal(k: Int, _), a: Attribute) if a.semanticEquals(rn) => Some(k.toLong)
    case GreaterThan(Literal(k: Int, _), a: Attribute) if a.semanticEquals(rn) => Some(k.toLong - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond, w @ Window(Seq(Alias(WindowExpression(_: RowNumber, _), _)), part, ord, child, _)))
        if ord.nonEmpty && part.nonEmpty =>
      // part.nonEmpty: a GLOBAL top-k (empty partitionSpec) belongs to
      // TakeOrderedAndProject, and TopKPerKey's final-phase
      // ClusteredDistribution(Nil) is not even constructible.
      val rn = w.windowOutputSet.head
      val usesRank = projectList.exists(_.references.contains(rn))
      rankBound(cond, rn) match {
        case Some(k) if k >= 1L && k <= Int.MaxValue && !usesRank =>
          Project(projectList, TopKPerKey(part, ord, k.toInt, child))
        case _ => p
      }
  }
}

object TopKPerKeyPlans {

  /** Add the window-top-k rewrite (and the strategy it plans into) to a
    * live session whose optimizer does not run it yet: one built without
    * `spark.sql.extensions=graft.plans.GraftExtensions`. A session the
    * extensions built keeps its one injected copy. */
  def ensureRewrite(spark: SparkSession): Unit = {
    ensureStrategy(spark)
    if (!spark.sessionState.optimizer.defaultBatches.exists(_.rules.contains(WindowTopKRewrite)))
      spark.experimental.extraOptimizations :+= WindowTopKRewrite
  }

  /** Add the strategy to a live session whose planner lacks it. */
  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.strategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies :+= TopKPerKeyStrategy

  /** Top-k rows per key group, ordered by `order` (pass `desc`/`asc`
    * Columns; a bare column sorts ascending). The order must be total for
    * deterministic results — add a tiebreak. */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], order: Seq[Column],
                 k: Int): DataFrame = {
    val spark = df.sparkSession
    ensureStrategy(spark)
    val analyzed = df.queryExecution.analyzed
    val keyAttrs: Seq[Expression] = keyCols.map { n =>
      analyzed.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"key column '$n' not in ${analyzed.output.map(_.name).mkString(", ")}"))
    }
    val sortOrders = order.map { c =>
      org.apache.spark.sql.GraftDatasetBridge.expr(c) match {
        case so: SortOrder => resolveOrder(so, analyzed)
        case e => SortOrder(resolveExpr(e, analyzed), Ascending, NullsFirst, Seq.empty)
      }
    }
    org.apache.spark.sql.GraftDatasetBridge.ofRows(spark,
      TopKPerKey(keyAttrs, sortOrders, k, analyzed))
  }

  private def resolveOrder(so: SortOrder, plan: LogicalPlan): SortOrder =
    so.copy(child = resolveExpr(so.child, plan))

  /** Resolve any UnresolvedAttribute references against the analyzed
    * child so the node enters the analyzer already resolved. */
  private def resolveExpr(e: Expression, plan: LogicalPlan): Expression =
    e.transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        plan.output.find(_.name == u.name).getOrElse(
          throw new IllegalArgumentException(
            s"order column '${u.name}' not in ${plan.output.map(_.name).mkString(", ")}"))
    }
}
