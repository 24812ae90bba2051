package graft.graph

import graft.util.Ckpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Exact

/** Landmark-approximate betweenness centrality — Brandes' dependency
  * accumulation (Brandes 2001, "A faster algorithm for betweenness
  * centrality") run from a pivot/landmark seed set instead of every
  * vertex (Brandes & Pich 2007 pivot sampling): the standard way
  * betweenness is made tractable on large graphs, with cost
  * O(|seeds| · E) instead of O(V · E).
  *
  * Two level-synchronous phases, both pure keyed shuffles over
  * (vertex, seed) state — no driver actions in the loops, so a SQL
  * oracle can unroll both phases round by round:
  *
  *  - FORWARD (BFS DAG + path counts): level r's σ(v,s) = Σ σ(u,s)
  *    over level-(r−1) BFS predecessors u — one frontier⋈edges join and
  *    one (dst, seed) hash-agg per level, anti-joined against the
  *    reached set (the Landmarks.bfs delta-frontier shape, plus the σ
  *    sum).
  *  - BACKWARD (dependency accumulation): δ(u,s) = Σ over deeper
  *    neighbours w of σ_u/σ_w · (1 + δ(w,s)). In an unweighted BFS DAG
  *    every shortest-path predecessor sits exactly one level up, so the
  *    accumulation is per-level joins from the deepest level back —
  *    each one edges⋈level_r⋈level_{r−1} with a (u, seed) hash-agg.
  *
  * Cross-engine exactness: each per-edge dependency term is a chain of
  * IEEE-exact ops on exact integers (σ ratios, 1 + δ/10⁶) snapped to
  * integer micros BEFORE the per-vertex sum, so accumulation order
  * never matters (the q62/q143 snap-then-sum discipline, applied per
  * level so the next level's input is already integral).
  *
  * State is |reached| · |seeds| pairs, the published scale knob: the
  * landmark count is O(10-100) regardless of |V|.
  */
object Betweenness {

  /** Top-`k` vertices by accumulated dependency over the seed set
    * within `rounds` hops: (id, bc_micros), bc desc with id tiebreak.
    * `edges` undirected (either orientation, one row per pair);
    * `seeds` a single-column ("id") vertex set. */
  def landmark(edges: DataFrame, seeds: DataFrame, rounds: Int,
               k: Int = 100): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // Partitioned + sorted by each pass's join key before the store
    // (the Components/Communities layout law, dual-direction
    // like Scc's eSrc/eDst): the forward wave joins on src, the
    // backward dependency pass joins on dst, so each keeps its own
    // stored layout — otherwise every per-round SMJ re-shuffles +
    // re-sorts the 2E-row edge table for that pass.
    val und = GraphUtil.layout(GraphUtil.undirected(edges), "src")
    val undByDst = GraphUtil.layout(und, "dst")

    // Forward: levels(r) = (id, seed, sigma) for vertices first reached
    // at depth r. The frontier IS the level — delta state only.
    val levelGens, knownGens, deltaGens = new Ckpt.Generations // one each
    var levels = Vector(levelGens.next(
      seeds.select(col("id"), col("id").as("seed"), lit(1L).as("sigma"))))
    var known = knownGens.next(levels.head.select("id", "seed"))
    for (_ <- 1 to rounds) {
      val cand = levels.last
        .join(und.withColumnRenamed("src", "id"), Seq("id"))
        .groupBy(col("dst").as("id"), col("seed"))
        .agg(sum(col("sigma")).as("sigma"))
      val fresh = levelGens.next(
        cand.join(known, Seq("id", "seed"), "left_anti"))
      known = knownGens.next(known.unionByName(fresh.select("id", "seed")))
      levels = levels :+ fresh
    }

    // Backward: δ at level r−1 from δ at level r; the deepest level
    // starts at 0 and each pass fills level-(r−1) vertices with no
    // deeper neighbour via a left join (δ = 0 — still needed as the
    // (1 + δ) factor one level further up).
    var deltaBelow = levels(rounds)
      .select(col("id"), col("seed"), lit(0L).as("dm"))
    var acc = Vector(deltaBelow)
    for (r <- rounds to 1 by -1) {
      val w = levels(r).join(deltaBelow, Seq("id", "seed"))
        .select(col("id").as("wid"), col("seed").as("wseed"),
          col("sigma").as("wsigma"), col("dm").as("wdm"))
      val u = levels(r - 1)
        .select(col("id").as("uid"), col("seed").as("useed"),
          col("sigma").as("usigma"))
      val sums = undByDst
        .join(w, col("dst") === col("wid"))
        .join(u, col("src") === col("uid") && col("wseed") === col("useed"))
        .select(col("uid").as("id"), col("useed").as("seed"),
          Exact.micros(
            col("usigma").cast("double") / col("wsigma").cast("double") *
              (lit(1d) + col("wdm").cast("double") / lit(1000000d)))
            .as("term"))
        .groupBy("id", "seed")
        .agg(sum(col("term")).as("dm"))
      deltaBelow = levels(r - 1).select("id", "seed")
        .join(sums, Seq("id", "seed"), "left")
        .select(col("id"), col("seed"),
          coalesce(col("dm"), lit(0L)).as("dm"))
        .transform(deltaGens.next)
      acc = acc :+ deltaBelow
    }

    acc.reduce(_ unionByName _)
      .filter(col("id") =!= col("seed"))
      .groupBy("id")
      .agg(sum(col("dm")).as("bc_micros"))
      .orderBy(col("bc_micros").desc, col("id"))
      .limit(k)
  }
}
