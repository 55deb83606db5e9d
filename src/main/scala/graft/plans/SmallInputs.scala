package graft.plans

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CoalesceExec, LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.internal.SQLConf

/** Plans inputs that fit in one file split as one partition.
  *
  * A parquet file at or below `spark.sql.files.maxPartitionBytes` is read by
  * one task anyway. Planned as usual, every aggregate, window or join above it
  * still gets an exchange (or a broadcast), each a job of its own that moves a
  * few KB between two one-task stages. This strategy plans such a scan as
  * `CoalesceExec(1, <FileSourceStrategy's plan>)`, which reports
  * `SinglePartition`: a distribution required above it is then met without an
  * exchange, so a query over small tables runs as one job.
  *
  * It also plans an equi-join whose two sides are predicted to plan as one
  * partition ([[onePartition]]) as a `ShuffledHashJoinExec`, when each side's
  * logical size is at most `spark.sql.maxSinglePartitionBytes`: that is the
  * check `EnsureRequirements` makes before it leaves a join of two
  * `SinglePartition` children unshuffled. Any other join is left to
  * `JoinSelection`; a join over an inner join usually is, because inner-join
  * size estimates multiply the sides' sizes.
  *
  * Both gates read settings Spark already has, and a wrong prediction costs
  * only speed: `EnsureRequirements` still inserts an exchange wherever a
  * child's partitioning does not satisfy its parent. Streaming and bucketed
  * relations are never touched.
  */
object SmallInputs extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ExtractEquiJoinKeys(joinType, leftKeys, rightKeys, other, _, left, right, _)
        if hashJoinable(joinType) && Seq(left, right).forall(s => onePartition(s) && fits(s)) =>
      val buildSide = joinType match {
        case LeftOuter | LeftSemi | LeftAnti => BuildRight
        case RightOuter => BuildLeft
        case _ => if (right.stats.sizeInBytes <= left.stats.sizeInBytes) BuildRight else BuildLeft
      }
      ShuffledHashJoinExec(leftKeys, rightKeys, joinType, buildSide, other,
        planLater(left), planLater(right), isSkewJoin = false) :: Nil
    case _ if scanOf(plan).exists(smallScan) =>
      FileSourceStrategy(plan).map(CoalesceExec(1, _))
    case _ => Nil
  }

  private def hashJoinable(t: JoinType): Boolean = t match {
    case Inner | LeftOuter | RightOuter | FullOuter | LeftSemi | LeftAnti => true
    case _ => false
  }

  private def fits(side: LogicalPlan): Boolean =
    side.stats.sizeInBytes <= SQLConf.get.getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES)

  /** The relation under a chain of projects and filters: the shape
    * `FileSourceStrategy` plans as one scan.
    */
  private def scanOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case Project(_, c) => scanOf(c)
    case Filter(_, c) => scanOf(c)
    case l: LogicalRelation => Some(l)
    case _ => None
  }

  private def smallScan(l: LogicalRelation): Boolean = l.relation match {
    case r: HadoopFsRelation =>
      !l.isStreaming && r.bucketSpec.isEmpty && r.sizeInBytes <= SQLConf.get.filesMaxPartitionBytes
    case _ => false
  }

  /** Whether `p` is predicted to plan with `SinglePartition` output: a small
    * scan, a held frame that reports it, or an operator above such inputs that
    * keeps its child's partitioning and whose required distribution one
    * partition meets. A join counts when this strategy plans it and its output
    * is one side's partitioning (an inner join reports both sides', which
    * `EnsureRequirements` does not take as one partition).
    */
  private[plans] def onePartition(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => smallScan(l)
    case r: LogicalRDD => !r.isStreaming && r.outputPartitioning == SinglePartition
    case _: Project | _: Filter | _: Aggregate | _: Sort | _: Window | _: Generate |
        _: LocalLimit | _: GlobalLimit => p.children.forall(onePartition)
    case ExtractEquiJoinKeys(LeftOuter | LeftSemi | LeftAnti | RightOuter, _, _, _, _, l, r, _) =>
      Seq(l, r).forall(s => onePartition(s) && fits(s))
    case _ => false
  }
}
