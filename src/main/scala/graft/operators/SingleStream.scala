package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, CodegenObjectFactoryMode, NamedExpression, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, Partial, PartialMerge}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.internal.SQLConf

/** A query over one read stream aggregates in one pass. The reference
  * runs a one-stream SELECT through one Aggregator and merges mergeable
  * state only across streams and shards (SURVEY §2.4); Spark plans every
  * aggregate as Partial then Final, and over a one-partition input
  * (a [[SingleSplitScan]], a dialect table's stored parts) both run back
  * to back in the same task. Where a Final aggregate's child is its own
  * Partial and the Partial's input reports `SinglePartition`, the pair
  * becomes one complete pass. No exchange would have been planned
  * between the two, so nothing else in the plan changes.
  *  - Spark's Hash, ObjectHash and Sort aggregates become the same node
  *    in `Complete` mode, as `AggUtils.planAggregateWithoutPartial`
  *    builds it: one hash table, and no `UnsafeRowJoiner`, which
  *    `TungstenAggregationIterator` builds for partial modes only.
  *  - A SketchAgg pair becomes one [[CompleteSketchAggExec]].
  * Distinct-aggregate chains (a distinct or `PartialMerge` aggregate and
  * the aggregates directly below it) stay as planned.
  *
  * In a plan built with interpreted factories
  * (`spark.sql.codegen.factoryMode=NO_CODEGEN`, the twin
  * `ChDdl.execute` runs small SELECTs in), `ORDER BY … LIMIT` over one
  * partition becomes a [[TopNExec]]: Spark's `TakeOrderedAndProjectExec`
  * orders through `LazilyGeneratedOrdering`, which compiles a class even
  * there. Compiled plans keep `TakeOrderedAndProjectExec`.
  *
  * Runs after [[SingleSplitScan]], before exchanges are planned. */
case class SingleStream(spark: SparkSession) extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = {
    val interpreted = spark.sessionState.conf.getConf(SQLConf.CODEGEN_FACTORY_MODE) ==
      CodegenObjectFactoryMode.NO_CODEGEN
    fuse(plan, keep = false, interpreted)
  }

  private def single(p: SparkPlan): Boolean = p.outputPartitioning == SinglePartition

  /** `keep`: `p` sits directly below an aggregate of a distinct chain. */
  private def fuse(p: SparkPlan, keep: Boolean, interpreted: Boolean): SparkPlan = {
    def below(c: SparkPlan, chain: Boolean): SparkPlan =
      fuse(c, chain && c.isInstanceOf[BaseAggregateExec], interpreted)
    p match {
      case a: BaseAggregateExec if keep || a.aggregateExpressions.exists(e =>
          e.isDistinct || e.mode == PartialMerge) =>
        a.mapChildren(below(_, chain = true))
      case f: BaseAggregateExec if pairOverOne(f) =>
        val partial = f.child.asInstanceOf[BaseAggregateExec]
        val grouping = partial.groupingExpressions
        val aggs = partial.aggregateExpressions.map(_.copy(mode = Complete))
        val in = below(partial.child, chain = false)
        f match {
          case h: HashAggregateExec => h.copy(requiredChildDistributionExpressions = Some(grouping),
            groupingExpressions = grouping, aggregateExpressions = aggs,
            initialInputBufferOffset = 0, child = in)
          case o: ObjectHashAggregateExec => o.copy(requiredChildDistributionExpressions = Some(grouping),
            groupingExpressions = grouping, aggregateExpressions = aggs,
            initialInputBufferOffset = 0, child = in)
          case s: SortAggregateExec => s.copy(requiredChildDistributionExpressions = Some(grouping),
            groupingExpressions = grouping, aggregateExpressions = aggs,
            initialInputBufferOffset = 0, child = in)
          case other => other.mapChildren(below(_, chain = false))
        }
      case FinalSketchAggExec(keys, aggList, results, partial: PartialSketchAggExec)
          if single(partial.child) =>
        CompleteSketchAggExec(keys, aggList, results, below(partial.child, chain = false))
      case t: TakeOrderedAndProjectExec if interpreted =>
        val c = below(t.child, chain = false)
        if (single(c)) TopNExec(t.limit, t.offset, t.sortOrder, t.projectList, c)
        else t.withNewChildren(Seq(c))
      case _ => p.mapChildren(below(_, chain = false))
    }
  }

  /** `f` is a Final aggregate over its own Partial, of the same kind,
    * whose input is one partition. */
  private def pairOverOne(f: BaseAggregateExec): Boolean = f.child match {
    case partial: BaseAggregateExec =>
      partial.getClass == f.getClass && !f.isStreaming &&
        f.aggregateExpressions.forall(_.mode == Final) &&
        partial.aggregateExpressions.forall(_.mode == Partial) &&
        f.aggregateExpressions.map(_.resultId) == partial.aggregateExpressions.map(_.resultId) &&
        f.groupingExpressions.map(_.toAttribute) == partial.groupingExpressions.map(_.toAttribute) &&
        single(partial.child)
    case _ => false
  }
}

/** `ORDER BY … LIMIT` over one partition, ordered through
  * `RowOrdering.create`, which honours the session's codegen factory
  * mode. The same rows as Spark's `TakeOrderedAndProjectExec` on one
  * partition: the `limit` least rows in order, the first `offset` of
  * them dropped, then projected. */
case class TopNExec(
    limit: Int,
    offset: Int,
    sortOrder: Seq[SortOrder],
    projectList: Seq[NamedExpression],
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = sortOrder
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val (n, skip, order, project, in) = (limit, offset, sortOrder, projectList, child.output)
    child.execute().mapPartitionsWithIndex { (index, rows) =>
      val top = org.apache.spark.sql.graftbridge.Bridge.takeOrdered(
        rows.map(_.copy()), n, RowOrdering.create(order, in)).drop(skip)
      if (project == in) top
      else {
        val proj = UnsafeProjection.create(project, in)
        proj.initialize(index)
        top.map(proj)
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopNExec = copy(child = c)
}
