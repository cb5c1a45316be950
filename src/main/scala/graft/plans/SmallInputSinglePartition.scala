package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, LogicalPlan, Project, Repartition, RepartitionOperation}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: a query whose whole input is small runs as one stage.
  *
  * When the files of every relation a plan reads add up to at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (Spark's
  * default is 1 MB), each file scan gets a one-partition coalesce
  * (`Repartition(1, shuffle = false)`) above its own projections and
  * filters. Every window, aggregate, join and global sort downstream then
  * sees `SinglePartition`, which satisfies any distribution they require,
  * so `EnsureRequirements` plans no exchange: the query runs as one job
  * of one task, plus one job per broadcast side.
  *
  * The threshold is AQE's own floor, compared with file bytes. AQE never
  * coalesces a post-shuffle partition below the floor, but it sizes that
  * on shuffle bytes, which are larger than the compressed files (decoded
  * rows: 326 KB shuffled per 17.6 KB read on the benchmark's audit ops).
  * So below the threshold the exchange-planned query could still run up
  * to one post-shuffle task per core, and this path gives that up for
  * fewer jobs. Measured in one JVM, rule off vs on, median of 5 per op
  * (4 cores): at sf0.01 (events 216 KB, lineitem 1 MB) the rule changes
  * 255 of 308 ops, summed time 142.8 s -> 134.0 s, 147 ops more than 10%
  * faster and 37 more than 10% slower (mostly text and dedup ops with
  * heavy per-row work after the scan; worst `event_gini`, +39%). At sf0.1, with the
  * floor raised to 16 MB so events (2 MB) take this path, the eight
  * benchmark audit views run 22-48% faster and the 11 MB `q1_pricing`
  * 3% slower: for the audit views the threshold is conservative. On the
  * benchmark's `audit_rebuild_capture` (8 audit views and a capture):
  * 5 jobs and 326 KB of shuffle writes per op before, 1.67 jobs and no
  * shuffle after, with the bytes read unchanged. Above the threshold the
  * plan is left as it is.
  *
  * The size is the file listing's (`location.sizeInBytes`, no job). A plan
  * is left alone when any of its leaves is streaming (stateful operators
  * keep their fixed state partitioning) or a bucketed relation (its
  * bucket partitioning already spares the shuffle), or when AQE or its
  * partition coalescing is off. Leaves other than files (local rows, a
  * materialized cache) count with their estimated size, so one with no
  * estimate keeps the plan as it is.
  *
  * Column pruning and filter pushdown still reach the scan, because the
  * coalesce sits above them. A scan already under a repartition (this
  * rule's or the query's own) is left as it is, so the rule is idempotent
  * and never fights `CollapseRepartition` in the optimizer's fixed-point
  * batch. Injected by [[graft.GraftExtensions]].
  */
object SmallInputSinglePartition extends Rule[LogicalPlan] {

  private def files(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => Some(r)
    case _ => None
  }

  /** A file relation with only projections and filters above it. */
  private def isScan(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => isScan(c)
    case Filter(_, c) => isScan(c)
    case leaf => files(leaf).isDefined
  }

  private def smallInput(plan: LogicalPlan): Boolean = {
    val leaves = plan.collectLeaves()
    def size(l: LogicalPlan): BigInt =
      files(l).fold(l.stats.sizeInBytes)(f => BigInt(f.location.sizeInBytes))
    leaves.exists(files(_).isDefined) &&
      !leaves.exists(l => l.isStreaming || files(l).exists(_.bucketSpec.isDefined)) &&
      leaves.map(size).sum <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }

  private def coalesceScans(p: LogicalPlan): LogicalPlan = p match {
    case _: RepartitionOperation if isScan(p.children.head) => p
    case scan if isScan(scan) => Repartition(1, shuffle = false, scan)
    case other => other.mapChildren(coalesceScans)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled &&
        smallInput(plan)) coalesceScans(plan)
    else plan
}
