// Hosted in a subpackage of org.apache.spark.sql because the seams this
// needs (classic.Dataset.ofRows, execution.LogicalRDD) are private[sql]
// and RDD.checkpointData is private[spark] — the same out-of-tree
// pattern as graftvec. Engine-facing API: graft.util.Ckpt.
package org.apache.spark.sql.graftckpt

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution,
  SQLExecution}
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** `localCheckpoint` WITHOUT origin-statistics propagation.
  *
  * Spark 4's `Dataset.localCheckpoint` builds its `LogicalRDD` via
  * `fromDataset`, which copies the origin plan's `Statistics` (and
  * constraints) into the checkpoint so downstream planning keeps the
  * estimates (SPARK-42521). For a ONE-shot checkpoint that is strictly
  * better; for an ITERATIVE operator it is a scale trap: round r's
  * plan joins the round-(r−1) checkpoint several times, size-only
  * estimation MULTIPLIES child sizes through joins, and the propagated
  * numbers compound round over round — by round ~10 of a Louvain move
  * schedule the `sizeInBytes` BigIntegers carry 10^5+ digits and the
  * driver burns MINUTES inside `SizeInBytesOnlyStatsPlanVisitor`'s
  * BigInt products (jstack: ToomCook3 multiplication under
  * `InjectRuntimeFilter`), before any task runs. Dropping the origin
  * stats resets every checkpoint to the default leaf estimate, so each
  * round's planning cost is that of ONE round — which is also the
  * honest estimate: after a few self-joins the propagated numbers were
  * astronomically wrong anyway, and a wrong-by-10^500 estimate cannot
  * inform a broadcast decision.
  *
  * Physical `outputPartitioning`/`outputOrdering` are preserved like
  * the stock checkpoint (exchange/sort elision downstream is a
  * correctness-of-plan property, not a statistics one). Lazy, like
  * `localCheckpoint(false)`: blocks materialize at first use.
  *
  * Scope — measured, not assumed (sf0.1 iterative-band A/B, clean
  * calibration floors): this is a targeted fix for MULTI-REFERENCE
  * loops (Louvain references its predecessor 4×/round → 4^r estimate
  * growth → the hang), NOT a blanket replacement. Sweeping it across
  * the whole graph band REGRESSED it 2-5× (q11 4.1→11.4s, q122
  * 7.1→39.6s, q56 8.0→19.6s): those loops reference their state ~2×,
  * their compounded stats stay cheap to multiply, and the huge
  * estimates act as a de-facto "don't broadcast" that matches the
  * best plan — while the default-stat leaf changes OTHER planning
  * decisions around them. A clamp-at-Long.MaxValue variant (propagate
  * realistic estimates, bound the digits) was also tried and lost on
  * Louvain itself (12s → 16s: realistic stats re-enable per-round
  * broadcast builds that cost more than the SMJ they replace). Stock
  * checkpoints stay in the 2-reference loops; lean goes where
  * reference fan-out compounds. */
object LeanCheckpointBridge {
  def lean(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    val qe = df.queryExecution
    val internalRdd = qe.toRdd.map(_.copy())
    internalRdd.localCheckpoint()
    val partitioning = qe.executedPlan.outputPartitioning match {
      case c: org.apache.spark.sql.catalyst.plans.physical
          .PartitioningCollection => c.partitionings.head
      case p => p
    }
    Dataset.ofRows(session,
      LogicalRDD(qe.analyzed.output, internalRdd, partitioning,
        qe.executedPlan.outputOrdering, isStreaming = false, None)(
        session, None, None))
  }
}

/** `localCheckpoint(false)` split in two, so that no job can race the
  * checkpoint ([[graft.util.Ckpt.Generation]]). */
object GenerationBridge {
  /** `df` as an RDD leaf over rows stored (MEMORY_AND_DISK, the local
    * checkpoint's level) by the first job that computes them, built
    * like the stock local checkpoint: one "checkpoint" SQL execution
    * (under AQE it runs the plan's stages; listeners see its plan), and
    * a `LogicalRDD` keeping the origin's statistics and physical
    * layout. The RDD is NOT marked for checkpointing. */
  def store(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val qe = df.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("checkpoint"))(
      stored(qe))
    (leaf(df, rdd), rdd)
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
    (leaf(df, rdd), folded)
  }

  private def stored(qe: QueryExecution): RDD[InternalRow] =
    qe.executedPlan.execute().map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)

  private def leaf(df: DataFrame, rdd: RDD[InternalRow]): DataFrame =
    Dataset.ofRows(df.sparkSession,
      LogicalRDD.fromDataset(rdd, df, isStreaming = false))

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
