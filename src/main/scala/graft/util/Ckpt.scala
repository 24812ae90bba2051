package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftckpt.GenerationBridge

/** The one way engine code checkpoints: frames computed once and read
  * from stored rows, and the generations of iterative operators. Rows
  * are stored MEMORY_AND_DISK in one "checkpoint" SQL execution and are
  * never lazily marked; a lineage is cut only by
  * [[Generation.truncate]], on the caller's thread. */
object Ckpt {
  /** One generation of an iterative loop, checkpointed in two steps.
    * `frame` is an RDD leaf over rows stored by the first job that
    * computes them; its plan keeps the origin's physical layout (under
    * AQE, the final plan's). [[truncate]] then checkpoints the stored
    * rows in place, cutting the RDD lineage.
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
    /** Checkpoint the stored rows and return `frame`. Call it once the
      * next generation is built: under AQE building it runs the stages
      * that read this one, so every partition is stored and the
      * checkpoint runs no job. On a generation nothing has read it runs
      * exactly one job (an eager checkpoint). */
    def truncate(): DataFrame = {
      GenerationBridge.truncate(rdd)
      frame
    }
  }

  /** `df` as a [[Generation]]. Under AQE this runs `df`'s stages up to
    * its last one, as `localCheckpoint(false)` does.
    *
    * @param originStats the leaf's statistics. `true` (the stock
    *   checkpoint's) carries `df`'s estimates and constraints over.
    *   `false` gives the default leaf estimate, for loops whose rounds
    *   read the previous generation several times: size-only estimation
    *   multiplies child sizes through joins, so the carried numbers
    *   compound round over round. Louvain reads its labels 4× a round;
    *   by round ~10 its `sizeInBytes` carried 10^5+ digits and the
    *   driver spent minutes in BigInt products before any task ran.
    *   Not a blanket default: measured at sf0.1, leaf estimates across
    *   the whole graph band were 2–5× slower (q11 4.1→11.4 s, q122
    *   7.1→39.6 s, q56 8.0→19.6 s). Loops that read their state ~2× a
    *   round keep cheap compounded estimates, which act as a "don't
    *   broadcast" that matches their best plan. Clamping the carried
    *   estimate at Long.MaxValue lost on Louvain too (12 → 16 s:
    *   realistic estimates re-enable per-round broadcasts). */
  def generation(df: DataFrame, originStats: Boolean = true): Generation = {
    val (frame, rdd) = GenerationBridge.store(
      df.asInstanceOf[org.apache.spark.sql.classic.DataFrame], originStats)
    new Generation(frame, rdd)
  }

  /** `df` computed once, for a frame read more than once: the
    * [[Generation]]'s frame, never truncated. Its rows stay stored
    * until the frame and every plan built on it are unreachable; the
    * ContextCleaner then frees them. */
  def store(df: DataFrame, originStats: Boolean = true): DataFrame =
    generation(df, originStats).frame

  /** The generations of one loop variable: [[next]] stores a frame as
    * a new [[Generation]] and truncates the one before it, which
    * building the new one has read. */
  final class Generations(originStats: Boolean = true) {
    private var last: Option[Generation] = None
    def next(df: DataFrame): DataFrame = {
      val g = generation(df, originStats)
      last.foreach(_.truncate())
      last = Some(g)
      g.frame
    }
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
}
