package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Deterministic random-walk corpus generation — the sampling stage of
  * DeepWalk/node2vec-style graph-embedding training data (Perozzi 2014,
  * Grover & Leskovec 2016): one walk per start vertex, each step moving
  * to the out-neighbor minimizing a seeded 60-bit hash of
  * (seed, step, start, cur, next). Hash-argmin instead of an RNG makes
  * the corpus BIT-REPRODUCIBLE across engines, partitionings, and
  * reruns — the property a training pipeline actually wants from its
  * sampler (resume = regenerate), and what lets a plain SQL oracle
  * replay the walks. Including `start` in the hash individualizes
  * walks, so two walks meeting at a vertex still diverge (corpus
  * diversity ≈ uniform sampling; per-(seed,step) the choice at a vertex
  * is a min-wise independent draw).
  *
  * Scale shape: all |V| walks advance in lock-step — step k is ONE
  * equi-join (cur = src) + ONE per-walk hash-argmin agg
  * (min(struct(h, dst)) is map-side combinable). Walk state is |V|
  * rows; the join fan-out is Σ deg(cur), the irreducible cost of
  * uniform walks on a skewed graph (production samplers cap hot-vertex
  * adjacency first — compose with a per-src top-k prune when degrees
  * are pathological). Dead-end walks simply stop contributing rows.
  */
object RandomWalk {

  /** edges: (src, dst) long ids, directed. Returns visit rows
    * (start, step, vertex), step 0 = the start itself. */
  def walks(edges: DataFrame, steps: Int, seed: String): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    // Partitioned + sorted by the per-step join key before the store,
    // so each step's SMJ re-shuffles only the |V|-row walk state, never
    // the edge table (the Components/Communities layout law).
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct()
      .transform(GraphUtil.layout(_, "src"))
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val gens = new graft.util.Ckpt.Generations
    var state = verts.select(col("id").as("start"), col("id").as("cur"))
      .transform(gens.next)
    var visits = state.select(col("start"), lit(0).as("step"),
      col("cur").as("vertex"))
    for (k <- 1 to steps) {
      val h = Dedup.portableHash(concat_ws("|",
        lit(seed), lit(k), col("start"), col("src"), col("dst")))
      val next = state.join(e, state("cur") === e("src"))
        .select(col("start"), col("dst"), h.as("h"))
        .groupBy("start")
        .agg(min(struct(col("h"), col("dst"))).as("m"))
        .select(col("start"), col("m.dst").as("cur"))
        .transform(gens.next)
      visits = visits.unionByName(next.select(col("start"),
        lit(k).as("step"), col("cur").as("vertex")))
      state = next
    }
    visits
  }
}
