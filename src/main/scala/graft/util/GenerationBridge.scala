// Hosted in a subpackage of org.apache.spark.sql because the seams this
// needs (classic.Dataset.ofRows, execution.LogicalRDD) are private[sql]
// and RDD.checkpointData is private[spark] — the same out-of-tree
// pattern as graftvec. Engine-facing API: graft.util.Ckpt.
package org.apache.spark.sql.graftckpt

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.{
  CoalescedHashPartitioning, Partitioning, PartitioningCollection,
  UnknownPartitioning}
import org.apache.spark.sql.classic.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution,
  SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** `localCheckpoint(false)` split in two, so that no job can race the
  * checkpoint ([[graft.util.Ckpt.Generation]]). */
object GenerationBridge extends AdaptiveSparkPlanHelper {
  /** `df` as an RDD leaf over rows stored (MEMORY_AND_DISK, the local
    * checkpoint's level) by the first job that computes them, built
    * like the stock local checkpoint: one "checkpoint" SQL execution
    * (under AQE it runs the plan's stages; listeners see its plan).
    * The RDD is NOT marked for checkpointing. */
  def store(df: DataFrame,
            originStats: Boolean): (DataFrame, RDD[InternalRow]) = {
    val qe = df.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("checkpoint"))(
      stored(qe))
    (leaf(df, rdd, originStats), rdd)
  }

  /** [[store]] plus one job, inside the same "checkpoint" execution,
    * that computes and stores every partition and folds its rows with
    * `f`: one value per partition, in partition order. */
  def storeFolded[A: ClassTag](df: DataFrame)(
      f: Iterator[InternalRow] => A): (DataFrame, Array[A]) = {
    val qe = df.queryExecution
    val (rdd, folded) =
      SQLExecution.withNewExecutionId(qe, Some("checkpoint")) {
        val rdd = stored(qe)
        (rdd, df.sparkSession.sparkContext.runJob(rdd, f))
      }
    (leaf(df, rdd, originStats = true), folded)
  }

  private def stored(qe: QueryExecution): RDD[InternalRow] =
    qe.executedPlan.execute().map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The `LogicalRDD` over `rdd`. Its layout is the one `rdd` was
    * executed with: under AQE the final physical plan's, which
    * [[stored]] has already planned (the `AdaptiveSparkPlanExec` root,
    * where `LogicalRDD.fromDataset` looks, reports none). A coalesced
    * shuffle read is reported as unknown partitioning: it co-partitions
    * with nothing, and keeping it made Louvain plan more stages (q237
    * at sf0.1: 369 jobs, against 320 without it and 347 before any
    * layout was kept). The first partitioning of a collection stands
    * for it, as in the stock checkpoint (a deep join's collection grows
    * exponentially). The
    * statistics are `df`'s (as `fromDataset` rewrites them) or, without
    * `originStats`, the default leaf estimate. */
  private def leaf(df: DataFrame, rdd: RDD[InternalRow],
                   originStats: Boolean): DataFrame = {
    val qe = df.queryExecution
    val plan = stripAQEPlan(qe.executedPlan)
    def layout(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => layout(c.partitionings.head)
      case c: CoalescedHashPartitioning => UnknownPartitioning(c.numPartitions)
      case p => p
    }
    val (stats, constraints) =
      if (originStats)
        LogicalRDD.rewriteStatsAndConstraints(df.logicalPlan, qe.optimizedPlan)
      else (None, None)
    Dataset.ofRows(df.sparkSession,
      LogicalRDD(df.logicalPlan.output, rdd, layout(plan.outputPartitioning),
        plan.outputOrdering, isStreaming = false)(
        df.sparkSession, stats, constraints))
  }

  /** Mark `rdd` for a local checkpoint and checkpoint it now, on the
    * caller's thread: partitions not yet stored are computed by one
    * job, then the lineage is cut. `RDD.doCheckpoint` is a no-op once
    * any finished job's lineage walk has reached the RDD, so the
    * checkpoint data is driven directly. */
  def truncate(rdd: RDD[_]): Unit = {
    rdd.localCheckpoint()
    rdd.checkpointData.foreach(_.checkpoint())
  }
}
