package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The superstep kernel every frontier-driven graph loop runs on — the
  * reference's one executor that algorithms plug into
  * (`bsp/graph.go:238-320`, `bsp/executor.go:98-124`). A caller supplies
  * the message, combine and vertex programs; the kernel owns the loop
  * discipline:
  *
  *  - **one [[graft.util.Ckpt.Generation]] per superstep**: each
  *    superstep's state is a stored leaf, so the logical plan stays
  *    constant-size over hundreds of rounds (an unchecked loop doubles
  *    the plan per round), and the previous generation's lineage is cut
  *    once the next is built;
  *  - **sparse activation**: `vprog` marks per-vertex change with a
  *    boolean `changed` column; only changed vertices stay in the active
  *    frontier that feeds the next round's `sendMsg`, so message volume
  *    tracks the shrinking boundary instead of staying O(V)/round;
  *  - **vote-to-halt**: with `earlyStop` the loop probes frontier
  *    emptiness with a `limit(1)` count, one driver action per round.
  *    Without it the loop takes no probe action, but it is not job-free:
  *    under AQE (the session default) building each generation runs
  *    its shuffle stages.
  *
  * Callers: [[Components]] (cold and warm), [[Communities.labelPropagation]],
  * [[TemporalReach]], [[Scc]] (forward colouring and backward
  * containment), [[ShortestPath.state]] and [[Landmarks.bfs]]. Their
  * edge-table preparation (persist + partition law + sort) stays with
  * the algorithm, because co-location strategy is per-algorithm while
  * the loop discipline is not.
  */
object Iterate {

  /** What a run ended with: the final `state` (without the `changed`
    * column), the supersteps it ran, and whether it `converged` — the
    * frontier came up empty. Always false with `earlyStop = false`,
    * which never probes. */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** Run a synchronous superstep loop.
    *
    * @param init     initial per-vertex state `(id, …)`; prepare it the
    *                 way the first round should see it (typically
    *                 already lineage-truncated).
    * @param sendMsg  active frontier → raw messages keyed `id`. The
    *                 edge join (against a table the caller cached and
    *                 partitioned once) lives in this closure.
    * @param mergeMsg raw messages → one combined row per `id` (a
    *                 map-side-combinable aggregation, the Pregel
    *                 combiner).
    * @param vprog    `(state, mergedMsgs)` → next state carrying a
    *                 boolean `changed` column (true = vertex stays
    *                 active). Everything else in the frame is the next
    *                 round's state.
    * @param maxRounds superstep bound.
    * @param earlyStop stop when no vertex changed (costs one `limit(1)`
    *                 probe per round); `false` = a fixed round count
    *                 with no probe action.
    * @param initActive round-0 frontier override (keyed `id`, joined
    *                 against `init` to pick up state columns). Default =
    *                 every vertex. A warm start resuming from a
    *                 CONVERGED snapshot restricts it to the vertices a
    *                 delta actually touched, so round 1's edge join is
    *                 delta-sized instead of V-sized — sound only when
    *                 the rest of `init` is a fixpoint (no other vertex
    *                 has unsent news by definition).
    */
  def run(init: DataFrame,
          sendMsg: DataFrame => DataFrame,
          mergeMsg: DataFrame => DataFrame,
          vprog: (DataFrame, DataFrame) => DataFrame,
          maxRounds: Int,
          earlyStop: Boolean = true,
          initActive: Option[DataFrame] = None): Result = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    var state = init
    var active = initActive
      .map(f => init.join(f.select("id"), Seq("id")))
      .getOrElse(init)
    var round = 0
    var converged = false
    val gens = new graft.util.Ckpt.Generations
    while (round < maxRounds && !converged) {
      val msgs = mergeMsg(sendMsg(active))
      val next = vprog(state, msgs)
      require(next.columns.contains("changed"),
        "vprog must emit a boolean `changed` column (sparse activation)")
      val gen = gens.next(next)
      state = gen.drop("changed")
      active = gen.filter(col("changed")).drop("changed")
      converged = earlyStop && active.limit(1).count() == 0
      round += 1
    }
    Result(state, round, converged)
  }
}
