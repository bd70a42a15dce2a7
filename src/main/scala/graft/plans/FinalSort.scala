package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeSet, Expression, KnownFloatingPointNormalized, NamedExpression}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort over a small input
  * shuffles to ONE partition instead of range-partitioning.
  *
  * `EnsureRequirements` plans every global `orderBy` as a
  * `RangePartitioning` exchange, and Spark's `RangePartitioner` runs a
  * separate sampling job over the exchange's whole map side to find its
  * bounds before the shuffle: one job and one stage more per query,
  * whatever its size. `SinglePartition` also satisfies the sort's
  * `OrderedDistribution` and needs no bounds, so when the sorted input
  * is small the rule swaps the exchange's partitioning: the map side
  * stays as parallel as before and only the reduce side becomes one
  * task. When the sort's input reads nothing but materialized shuffle
  * stages that `EnsureRequirements` planned (and broadcast stages), the
  * rule drops the exchange instead and reads each of those stages as one
  * partition ([[readAsOne]]): the final aggregate, window or join then
  * runs in the sort's own task, with no exchange job or stage between
  * them. A sort over a scan, or over a user-specified spread
  * (`repartition`, `rebalance`), keeps the `SinglePartition` exchange,
  * so the stage below it keeps its width.
  *
  * The rule fires only on an exchange that `EnsureRequirements`
  * inserted directly under a global `SortExec`; `repartitionByRange`
  * and hash repartitions keep their own origins and are untouched. It
  * keeps range partitioning unless [[streamedBytes]] knows the input
  * size and that size is at most a quarter of
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (16 MB at Spark's
  * default). One task sorting everything costs less task time at every
  * size (no sampling pass), but more wall time once the sort outweighs
  * the sampling job it saves: `tools/final_sort_crossover.scala` put
  * that crossover at 12-16 MB of parquet with 4 reduce tasks and at
  * about 16 MB with 2, and the fused path's (an aggregate over a hash
  * shuffle) at about 16 MB of map output, on a 4-core machine
  * (DESIGN.md "Final ordering").
  * AQE re-applies its preparation rules each time a stage materializes,
  * so a sort whose input is not yet measured is decided again once it is.
  */
object FinalSortToSinglePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s @ SortExec(_, true,
        e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
        if streamedBytes(child).exists(
          _ <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) / 4) =>
      s.copy(child = readAsOne(child).getOrElse(e.copy(outputPartitioning = SinglePartition)))
  }

  /** `plan` with each of its shuffle stages read as one partition, so
    * that it runs in one task with the sort above it and needs no
    * exchange. Only when every leaf is a materialized shuffle stage that
    * `EnsureRequirements` planned, or a broadcast stage, with at least
    * one shuffle stage and no shuffle read already in place (a skew
    * split or a local read): one partition per input satisfies any
    * clustering and co-partitions both sides of a join. A scan, an
    * unmeasured exchange or a user-specified spread (`repartition`,
    * `rebalance`) keeps its width, and so does a plan whose rewritten
    * output is still more than one partition (a union).
    */
  private def readAsOne(plan: SparkPlan): Option[SparkPlan] = {
    val leaves = plan.collectLeaves()
    val fusable = leaves.exists(_.isInstanceOf[ShuffleQueryStageExec]) && leaves.forall {
      case q: ShuffleQueryStageExec =>
        q.isMaterialized && q.mapStats.isDefined && q.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS
      case _: BroadcastQueryStageExec => true
      case _ => false
    } && !plan.exists(_.isInstanceOf[AQEShuffleReadExec])
    if (!fusable) None
    else Some(plan.transformUp { case q: ShuffleQueryStageExec =>
      val bytes = q.mapStats.get.bytesByPartitionId
      AQEShuffleReadExec(q, Seq(CoalescedPartitionSpec(0, bytes.length, bytes.sum)))
    }).filter(_.outputPartitioning.numPartitions == 1)
  }

  /** The bytes the map side streams into the exchange, from sizes that
    * exist without running the query's own sort: materialized shuffle
    * stages (runtime statistics), file scans (bytes on disk) and local
    * rows. A broadcast build side adds no streamed bytes and counts 0.
    * None — keep range partitioning — when any leaf's size is unknown
    * (a stage not yet materialized, a cache not yet built, an RDD) or
    * the map side holds an operator whose output the leaves do not
    * bound: `Generate`, `Expand`, or a join that may multiply rows by
    * an unmeasured factor ([[joinBytes]]). Widths are not tracked: a
    * projection or a join that widens rows counts as its inputs' bytes.
    *
    * The logical plan's `sizeInBytes` is deliberately not used: without
    * CBO Spark sizes a join as the product of its inputs; under q88's
    * final sort at sf0.1 it reads 502 GB where this estimate is 12 KB.
    */
  def streamedBytes(plan: SparkPlan): Option[BigInt] = plan match {
    case _: BroadcastQueryStageExec | _: BroadcastExchangeLike => Some(0)
    case q: QueryStageExec => q.computeStats().map(_.sizeInBytes)
    case f: FileSourceScanExec => Some(f.relation.sizeInBytes)
    case l: LocalTableScanExec =>
      Some(BigInt(l.output.map(_.dataType.defaultSize).sum + 8) * l.rows.size)
    case j: BaseJoinExec => joinBytes(j)
    case _: GenerateExec | _: ExpandExec => None
    case p if p.children.isEmpty => None
    case p => sumBytes(p.children)
  }

  private def sumBytes(plans: Seq[SparkPlan]): Option[BigInt] =
    plans.foldLeft(Option(BigInt(0))) { (acc, c) => acc.flatMap(a => streamedBytes(c).map(a + _)) }

  /** A join's output, bounded by its inputs. Semi and anti joins never
    * widen their left side. When one side is distinct on its join keys
    * (a final aggregate grouped by them), each row of the other side
    * matches at most once, so the output has at most as many rows as
    * both inputs together and counts as their bytes. Otherwise every row
    * may match every row of the other side: `left × rows(right) + right ×
    * rows(left)`, from measured row counts (a broadcast build side adds
    * 0 bytes but multiplies the stream side by its rows). A join without
    * keys (cartesian, nested loop) or with an unmeasured side has no
    * bound.
    */
  private def joinBytes(j: BaseJoinExec): Option[BigInt] = j.joinType match {
    case LeftSemi | LeftAnti | _: ExistenceJoin => sumBytes(j.children)
    case _ if j.leftKeys.isEmpty => None
    case _ if distinctOn(j.left, j.leftKeys) || distinctOn(j.right, j.rightKeys) =>
      sumBytes(j.children)
    case _ =>
      def times(bytes: BigInt, rows: => Option[BigInt]) =
        if (bytes == 0) Some(bytes) else rows.map(bytes * _.max(1))
      for {
        l <- streamedBytes(j.left)
        r <- streamedBytes(j.right)
        lOut <- times(l, rowCount(j.right))
        rOut <- times(r, rowCount(j.left))
      } yield lOut + rOut
  }

  /** Whether `plan`'s rows are distinct on `keys`: a final aggregate
    * whose grouping columns are all among the keys, reached through
    * operators that keep or drop rows without changing their columns.
    */
  private def distinctOn(plan: SparkPlan, keys: Seq[Expression]): Boolean = plan match {
    case a: BaseAggregateExec if a.requiredChildDistributionExpressions.isDefined =>
      val cols = AttributeSet(renamed(keys, a.resultExpressions).collect { case k: Attribute => k })
      a.groupingExpressions.forall(g => cols.contains(g.toAttribute))
    case p: ProjectExec => distinctOn(p.child, renamed(keys, p.projectList))
    case q: QueryStageExec => distinctOn(q.plan, keys)
    case p @ (_: FilterExec | _: SortExec | _: AQEShuffleReadExec | _: Exchange |
        _: WholeStageCodegenExec | _: InputAdapter) => distinctOn(p.children.head, keys)
    case _ => false
  }

  /** `keys` with each column an alias in `exprs` outputs traced back to
    * the column it renames, and Spark's NaN/-0.0 normalization of float
    * keys removed (a group on the column is distinct on it too).
    */
  private def renamed(keys: Seq[Expression], exprs: Seq[NamedExpression]): Seq[Expression] = {
    val from = AttributeMap(exprs.collect { case a @ Alias(c: Attribute, _) => a.toAttribute -> c })
    keys.map {
      case KnownFloatingPointNormalized(NormalizeNaNAndZero(k: Attribute)) => from.getOrElse(k, k)
      case k: Attribute => from.getOrElse(k, k)
      case k => k
    }
  }

  /** Rows of `plan` when measured: a materialized stage's runtime row
    * count, local rows, or an upper bound through operators that never
    * add rows.
    */
  private def rowCount(plan: SparkPlan): Option[BigInt] = plan match {
    case q: QueryStageExec => q.computeStats().flatMap(_.rowCount)
    case l: LocalTableScanExec => Some(l.rows.size)
    case p @ (_: ProjectExec | _: FilterExec | _: SortExec | _: AQEShuffleReadExec |
        _: Exchange | _: BaseAggregateExec | _: WholeStageCodegenExec | _: InputAdapter) =>
      rowCount(p.children.head)
    case _ => None
  }
}
