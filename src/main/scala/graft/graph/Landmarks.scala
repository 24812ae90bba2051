package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Landmark (multi-source) BFS distances — the distance-feature
  * primitive behind landmark/pivot closeness estimation (Potamias et
  * al. 2009, "Fast shortest path distance estimation in large
  * networks") and the harmonic-centrality variant of closeness
  * (Boldi & Vigna 2014): run one BFS wave from a whole SEED SET at
  * once, carrying (vertex, seed, dist) state — k landmarks cost one
  * propagation, not k runs.
  *
  * Per round, on the [[Iterate]] kernel at a fixed round count (no
  * probe action, so a SQL oracle can unroll it):
  *  - frontier ⋈ edges → candidate (dst, seed) pairs at the frontier's
  *    dist + 1 (distinct);
  *  - anti-join against the known table keeps only NEWLY reached
  *    pairs;
  *  - known ∪= fresh; fresh is the next frontier. Work per round
  *    tracks the expanding wave only (delta-frontier, the Components
  *    trick), never the full known state.
  *
  * State is |reached pairs| ≤ |V| * |seeds| — the scale knob is the
  * landmark count, chosen O(10-100) in the published schemes
  * independent of |V|.
  */
object Landmarks {

  /** (id, seed, dist) for every vertex within `rounds` hops of a seed.
    * `edges` is undirected (one row per pair, either orientation);
    * `seeds` is a single-column ("id") vertex set. */
  def bfs(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // Partitioned + sorted by the join key before the store (the stored
    // leaf carries both through): each round's frontier join
    // re-shuffles only the frontier, not the 2E-row edge table — the
    // same layout law as Components/Communities.
    val und = GraphUtil.layout(GraphUtil.undirected(edges), "src")

    Iterate.run(
      graft.util.Ckpt.store(
        seeds.select(col("id"), col("id").as("seed"), lit(0).as("dist"))),
      sendMsg = frontier => frontier
        .join(und.withColumnRenamed("src", "id"), Seq("id"))
        .select(col("dst").as("id"), col("seed"),
          (col("dist") + 1).as("dist")),
      mergeMsg = _.groupBy("id", "seed").agg(min("dist").as("dist")),
      vprog = (known, cand) => known.withColumn("changed", lit(false))
        .unionByName(cand
          .join(known.select("id", "seed"), Seq("id", "seed"), "left_anti")
          .withColumn("changed", lit(true))),
      maxRounds = rounds,
      earlyStop = false).state
  }

  /** Harmonic closeness w.r.t. the landmark set: per vertex, the
    * number of landmarks reached and Σ 1/dist (micros-snapped per term
    * BEFORE the integer sum — associative, engine-exact; the seed's
    * own 0-distance term contributes 0 by the harmonic convention). */
  def harmonicCloseness(edges: DataFrame, seeds: DataFrame,
                        rounds: Int): DataFrame =
    bfs(edges, seeds, rounds)
      .groupBy("id")
      .agg(count(lit(1)).as("reached"),
        sum(when(col("dist") === 0, lit(0L))
          .otherwise(graft.util.Exact.micros(
            lit(1.0) / col("dist")))).as("harmonic_micros"))
}
