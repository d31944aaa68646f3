package graft.catalyst

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning,
  UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** The first row of each group of rows equal in `keys`, first by `order`:
  * the streaming form of `row_number() over (partition by keys order by
  * order) = 1`. Planned by [[KeepFirstStrategy]] (registered by
  * [[GraftExtensions]]) as a partial [[KeepFirstExec]] on each input
  * partition, then a final one on the rows clustered by `keys`; the
  * partial step is dropped when the input is already clustered
  * ([[RemoveRedundantPartialKeepFirst]]).
  *
  * Keys compare as grouping compares them: the planner passes float keys
  * through `NormalizeFloatingNumbers.normalize` (NaN equals NaN, -0.0
  * equals 0.0), and the caller passes map keys in an orderable form. The
  * node claims no (global) logical ordering; its exec reports the
  * per-partition order it requires of its child, so a write above it that
  * needs a prefix of `keys` sorted keeps no sort of its own. */
final case class KeepFirst(keys: Seq[Expression], order: Seq[SortOrder], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): KeepFirst = copy(child = newChild)
}

/** One pass over a partition sorted by `keys ++ order`: a row is emitted
  * when its key bytes differ from the previous row's. The previous key
  * lives in one reused buffer, so the pass copies no rows and allocates
  * only when a key outgrows the buffer. The final step needs its input
  * clustered by `keys`; a `partial` one takes any partitioning and keeps
  * each key's first row per partition, so a shuffle after it carries one
  * row per key and partition instead of every row. */
final case class KeepFirstExec(keys: Seq[Expression], order: Seq[SortOrder], partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = (keys.map(SortOrder(_, Ascending)) ++ order) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val (keyExprs, input) = (keys, child.output)
    child.execute().mapPartitions { rows =>
      val project = UnsafeProjection.create(keyExprs, input)
      var previous = new Array[Byte](64)
      var previousSize = -1
      rows.filter { row =>
        val key = project(row)
        val size = key.getSizeInBytes
        val repeat = size == previousSize && ByteArrayMethods.arrayEquals(
          previous, Platform.BYTE_ARRAY_OFFSET, key.getBaseObject, key.getBaseOffset, size)
        if (!repeat) {
          if (previous.length < size) previous = new Array[Byte](size * 2)
          key.writeToMemory(previous, Platform.BYTE_ARRAY_OFFSET)
          previousSize = size
          numOutputRows += 1
        }
        !repeat
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KeepFirstExec = copy(child = newChild)
}

/** Plans [[KeepFirst]] as a final step over a partial one; injected by
  * [[GraftExtensions]]. */
object KeepFirstStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KeepFirst(keys, order, child) =>
      val normalized = keys.map(GraftBridge.normalizeFloats)
      val partial = KeepFirstExec(normalized, order, partial = true, planLater(child))
      KeepFirstExec(normalized, order, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Drops the partial step of a [[KeepFirstExec]] whose input already
  * satisfies the final step's distribution (a frame repartitioned on a
  * subset of the keys, as a restructure batch is): no shuffle follows it,
  * so it would only sort and scan the partition a second time. Injected
  * by [[GraftExtensions]] as a post-planner rule, so it runs on the
  * planned tree before exchanges and sorts are added. Spark runs such
  * rules under adaptive execution, which every graft session enables;
  * without it the partial step stays, costing a sort, not a result. */
object RemoveRedundantPartialKeepFirst extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case last @ KeepFirstExec(_, _, false, KeepFirstExec(_, _, true, input))
        if input.outputPartitioning.satisfies(last.requiredChildDistribution.head) =>
      last.withNewChildren(Seq(input))
  }
}
