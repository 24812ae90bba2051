package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftckpt.GenerationBridge

/** Checkpoint and store utilities: the generations of iterative
  * operators, and frames computed once and read from stored rows. */
object Ckpt {
  /** One generation of an iterative loop, checkpointed in two steps.
    * `frame` is an RDD leaf, like `localCheckpoint(false)`'s: its rows
    * are stored by the first job that computes them, and its plan keeps
    * the origin's statistics and physical layout. [[truncate]] then
    * checkpoints the stored rows in place, cutting the RDD lineage.
    *
    * Why two steps: Spark 4.1 checkpoints a lazily marked RDD at the
    * end of whichever job first finishes over it, on that job's thread.
    * When that is a broadcast job (the global `RDDCheckpointData` lock,
    * then the RDD's lock in `markCheckpointed`) while the DAG scheduler
    * submits a map stage over the same RDD (the RDD's lock in
    * `getCacheLocs`, then the global one), the two deadlock and every
    * later job waits. A generation is marked only inside `truncate`, on
    * the caller's thread, while no job runs over it. */
  final class Generation private[Ckpt] (val frame: DataFrame,
                                        rdd: RDD[_]) {
    /** Checkpoint the stored rows. Call it once the next generation is
      * built: under AQE building it runs the stages that read this one,
      * so every partition is stored and the checkpoint runs no job. */
    def truncate(): Unit = GenerationBridge.truncate(rdd)
  }

  /** `df` as a [[Generation]]. Under AQE this runs `df`'s stages up to
    * its last one, as `localCheckpoint(false)` does. */
  def generation(df: DataFrame): Generation = {
    val (frame, rdd) = GenerationBridge.store(
      df.asInstanceOf[org.apache.spark.sql.classic.DataFrame])
    new Generation(frame, rdd)
  }

  /** `df` computed once: its rows are stored (MEMORY_AND_DISK) and
    * folded by `f`, one value per partition, in one job of one
    * "checkpoint" SQL execution (under AQE, after `df`'s earlier
    * stages). The frame is an RDD leaf over the stored rows that keeps
    * `df`'s statistics and layout, so plans over it re-run nothing
    * upstream of the store.
    *
    * The rows are never marked for checkpointing. Nothing reads them
    * across loop rounds, so there is no lineage to cut, and a lazy mark
    * would be cut by the first job over them, on that job's thread
    * (the race [[Generation]] avoids). Nor do they go through
    * `Dataset.persist`, whose CacheManager keeps them until an explicit
    * unpersist. `persist` registers the RDD with the ContextCleaner,
    * which frees the stored blocks once the frame and every plan built
    * on it are unreachable: the caller releases them by dropping them. */
  def storeFolded[A: scala.reflect.ClassTag](df: DataFrame)(
      f: Iterator[InternalRow] => A): (DataFrame, Array[A]) =
    GenerationBridge.storeFolded(
      df.asInstanceOf[org.apache.spark.sql.classic.DataFrame])(f)

  /** Lazy local checkpoint WITHOUT origin-statistics propagation — use
    * this instead of `df.localCheckpoint(false)` inside iterative
    * loops, where Spark 4's stats propagation compounds size estimates
    * multiplicatively across rounds until driver-side planning chokes
    * on astronomically large BigIntegers (see
    * [[org.apache.spark.sql.graftckpt.LeanCheckpointBridge]]). */
  def lean(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftckpt.LeanCheckpointBridge.lean(
      df.asInstanceOf[org.apache.spark.sql.classic.DataFrame])
}
