package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, GenerateExec,
  SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.internal.SQLConf

/** Gathers a small global sort into one task: `SortExec(global) ←
  * ShuffleExchangeExec(RangePartitioning)` becomes `SortExec ←
  * CoalesceExec(1)` when AQE would leave the range shuffle's output in
  * one partition anyway. The reference sorts inside each pipeline and
  * merges the sorted runs once (MergeOrder, SURVEY §2.6); Spark's range
  * exchange instead runs a RangePartitioner sampling job (a second run
  * of the pipeline below it) and a shuffle map stage before the sort,
  * which on a few KB costs more than the sort. Only those go away: the
  * final partitioning is the one `CoalesceShufflePartitions` would pick.
  *
  * A query-stage preparation rule, so it runs after `EnsureRequirements`
  * on AQE's initial plan and again on every re-optimised plan, where the
  * stages below have materialised and their runtime sizes are known
  * (Shark's partial DAG execution). The bytes the one task would read
  * are counted at the leaves of the narrow pipeline below the exchange:
  * the shuffle bytes of a materialised shuffle stage (what AQE's
  * coalescing reads), the runtime size of any other materialised stage
  * and the selected files' bytes of a file scan. Input bytes and not an
  * output estimate decide, so a `TABLESAMPLE` or a selective filter over
  * a large file keeps the range exchange.
  *
  * The rule declines when
  *  - partition coalescing is off;
  *  - a leaf is an exchange or stage not yet materialised, or has no
  *    known size;
  *  - the pipeline holds a `Generate` or a nested-loop or cartesian join,
  *    whose output its input does not bound;
  *  - a node above the sort, up to the nearest exchange or the root,
  *    has several children or needs a distribution that one partition
  *    does not satisfy (a shuffle spec of another child could rely on
  *    the range partitioning);
  *  - the exchange is not one `EnsureRequirements` placed
  *    (`repartitionByRange`).
  */
case class SmallSort(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = oneTaskBytes match {
    case Some(max) => gather(plan, free = true, max)
    case None => plan
  }

  /** The most shuffle bytes AQE's `CoalesceShufflePartitions` leaves in
    * one partition. It aims at `min(ceil(total / minNum), advisory)`,
    * raised to `minPartitionSize`, where `minNum` is the default
    * parallelism under `parallelismFirst`: with more than one such
    * partition wanted, only a total within `minPartitionSize` stays in
    * one, otherwise one up to the larger of the two sizes.
    */
  private def oneTaskBytes: Option[Long] =
    if (!conf.coalesceShufflePartitionsEnabled) None else {
      val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse {
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          session.sparkContext.defaultParallelism
        else 1
      }
      Some(if (minNum > 1) minSize
        else math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
    }

  /** `free`: only unary nodes that one partition satisfies read `p`'s
    * output partitioning, up to the nearest exchange or the root.
    */
  private def gather(p: SparkPlan, free: Boolean, max: Long): SparkPlan = p match {
    case s @ SortExec(_, true, e: ShuffleExchangeExec, _)
        if free && e.outputPartitioning.isInstanceOf[RangePartitioning] &&
          e.shuffleOrigin == ENSURE_REQUIREMENTS && inputBytes(e.child).exists(_ <= max) =>
      s.withNewChildren(Seq(CoalesceExec(1, e.child)))
    case _ =>
      val below = p.isInstanceOf[Exchange] || (free && p.children.size == 1 &&
        p.requiredChildDistribution.forall(SinglePartition.satisfies))
      p.withNewChildren(p.children.map(gather(_, below, max)))
  }

  /** Bytes read at the leaves of the narrow pipeline `p`, or None when
    * one is unknown or the pipeline can grow its input without bound.
    */
  private def inputBytes(p: SparkPlan): Option[BigInt] = p match {
    case s: ShuffleQueryStageExec if s.isMaterialized =>
      Some(BigInt(s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L)))
    case s: QueryStageExec if s.isMaterialized => Some(s.getRuntimeStatistics.sizeInBytes)
    case _: QueryStageExec | _: Exchange => None
    case f: FileSourceScanExec => Some(BigInt(f.selectedPartitions.totalFileSize))
    case _: GenerateExec | _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => None
    case _ if p.children.isEmpty => None
    case _ => p.children.map(inputBytes).foldLeft(Option(BigInt(0))) {
      (sum, b) => for (x <- sum; y <- b) yield x + y
    }
  }
}
