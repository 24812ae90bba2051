package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-core decomposition by iterative peeling (Matula & Beck 1983; the
  * distributed-superstep formulation of Montresor, De Pellegrini &
  * Miorandi 2011): repeatedly delete every vertex whose degree in the
  * REMAINING subgraph is < k — at the fixpoint the survivors are
  * exactly the k-core. The training-data/graph-quality primitive for
  * "keep only the densely-connected part" (spam tails and crawl fringe
  * peel away; cores survive).
  *
  * Shape per round: one degree aggregation (map-side combinable) + two
  * semi-joins restricting the edge table to surviving endpoints — all
  * keyed shuffles, no driver data. With `earlyStop = false` the run
  * takes no count action (localCheckpoint generations cut the lineage;
  * under AQE building each one still runs its shuffle stages) so a SQL
  * oracle can unroll it round for round; with `earlyStop = true` the
  * only driver value per round
  * is the surviving-edge count (one action), stopping when a round
  * removes nothing — the peel is monotone, so an unchanged edge count
  * IS the fixpoint. Rounds needed = the graph's "peeling complexity"
  * (degeneracy ordering depth), typically O(log V) on heavy-tailed
  * graphs; each round's work tracks the shrinking subgraph.
  */
object KCore {

  /** One peel round: drop every edge with an endpoint of degree < k in
    * `e` (the symmetric edge table). Degree = one map-side-combinable
    * agg; survivor restriction = two semi-joins — the per-round plan
    * shape PlanSpec pins (the `run` loop truncates each generation with
    * localCheckpoint, so the final plan alone can't show it). */
  private[graft] def peelOnce(e: DataFrame, k: Int): DataFrame = {
    val keep = e.groupBy("src")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= k)
      .select("src")
    e.join(keep, Seq("src"), "left_semi")
      .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
      .select("src", "dst")
  }

  /** Surviving (id, degree) after `rounds` peels at threshold `k`.
    * `edges` is an undirected edge list given once per pair (u, v);
    * both orientations are derived internally, so per-vertex degree is
    * one `groupBy(src)` over the symmetric table. */
  def run(edges: DataFrame, k: Int, rounds: Int,
          earlyStop: Boolean = true): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(false)

    var e = und
    var prev = -1L
    var done = false
    var r = 0
    while (r < rounds && !done) {
      val next = peelOnce(e, k)
        .localCheckpoint(false)
      if (earlyStop) {
        val n = next.count()
        if (n == prev) done = true
        prev = n
      }
      e = next
      r += 1
    }
    e.groupBy("src").agg(count(lit(1)).as("degree"))
      .select(col("src").as("id"), col("degree"))
  }
}
