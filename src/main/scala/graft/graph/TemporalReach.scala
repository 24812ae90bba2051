package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Time-respecting reachability (temporal BFS): earliest arrival over
  * paths whose edge timestamps never decrease — "starting at these
  * seeds at their start times, what can the influence reach, and when"
  * (supply-chain contagion, information diffusion, incident blast
  * radius). A plain BFS over the same edges OVERSTATES reachability:
  * an edge that fired before the walker arrived cannot be taken.
  *
  * Expressed through the [[Iterate]] superstep kernel: state is the
  * SPARSE set of reached vertices with their earliest arrival (µs),
  * messages relax `arrival(dst) ← min(edge.ts : edge.ts ≥ arrival(src))`
  * — a monotone min-combine, so resending from unchanged vertices is
  * idempotent and the sparse-activation loop computes exactly the
  * dense fixed-round relaxation the unrolled SQL oracle replays (q192).
  * Message volume per round is the active frontier's out-edge count,
  * map-side combined on dst before the shuffle.
  */
object TemporalReach {

  /** @param edges (src, dst, ts) temporal edge table; multi-edges with
    *              distinct timestamps are meaningful and kept.
    * @param seeds (id, arr) start vertices with start times (µs).
    * @param rounds fixed hop bound (no probe action, oracle-unrollable).
    */
  def earliestArrival(edges: DataFrame, seeds: DataFrame,
                      rounds: Int): DataFrame = {
    // Persisted for the per-round joins of the returned LAZY plan, so
    // it cannot be unpersisted here — the caller/bench's post-action
    // cleanup (or LRU eviction) releases it, as with Dedup's persisted
    // pipelines.
    // (InMemoryRelation preserves the src partitioning + ordering, so
    // each round's arrival join re-shuffles only the frontier side.)
    val e = edges.select(col("src"), col("dst"), col("ts"))
      .repartition(col("src"))
      .sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = seeds.select(col("id"), col("arr"))
      .groupBy("id").agg(min("arr").as("arr"))
      .localCheckpoint(false)
    Iterate.run(
      init = init,
      sendMsg = active => active.join(e,
          active("id") === e("src") && e("ts") >= active("arr"))
        .select(e("dst").as("id"), e("ts").as("marr")),
      mergeMsg = msgs => msgs.groupBy("id").agg(min("marr").as("marr")),
      vprog = (state, msgs) => state.join(msgs, Seq("id"), "full_outer")
        .select(col("id"),
          least(col("arr"), col("marr")).as("arr"),
          (col("arr").isNull ||
            (col("marr").isNotNull && col("marr") < col("arr")))
            .as("changed")),
      maxRounds = rounds,
      earlyStop = false).state
  }
}
