package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition (Cohen 2008, "Trusses: cohesive subgraphs for
  * social network analysis"): the maximal subgraph in which EVERY edge
  * participates in at least k−2 triangles. The edge-level analogue of
  * [[KCore]] — a strictly stronger cohesion filter (every k-truss is
  * inside the (k−1)-core), the standard community-core extractor.
  *
  * Peeling loop: enumerate triangles on the surviving canonical (u<v)
  * edge set — each triangle (a<b<c) found exactly once by the
  * two-join pattern [[Triangles]] uses — explode each into its three
  * edges, count support per edge (one hash-agg, map-side combinable),
  * drop edges below k−2, repeat. Like [[KCore]], `earlyStop = false`
  * takes no count action (stored generations, each truncated once the
  * next is built; under AQE building each one still runs its shuffle
  * stages) so a SQL oracle
  * can unroll the rounds; with
  * `earlyStop = true` the only per-round driver value is the surviving
  * edge count, and an unchanged count is the fixpoint (peeling is
  * monotone).
  */
object Truss {

  private def canon(edges: DataFrame): DataFrame =
    edges.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") < col("v"))
      .distinct()

  /** Per-edge triangle support over a canonical edge set. */
  private[graft] def support(e: DataFrame): DataFrame = {
    val tri = e.as("x")
      .join(e.as("y"), col("x.v") === col("y.u"))
      .join(e.as("z"),
        col("z.u") === col("x.u") && col("z.v") === col("y.v"))
      .select(col("x.u").as("a"), col("x.v").as("b"), col("y.v").as("c"))
    tri.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("c").as("v")),
        struct(col("a").as("u"), col("c").as("v")))).as("s"))
      .select(col("s.u").as("u"), col("s.v").as("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("supp"))
  }

  /** Surviving (u, v, supp) after `rounds` peels at threshold `k`
    * (support within the FINAL surviving subgraph). Input edges are
    * undirected, any orientation, duplicates tolerated. */
  def run(edges: DataFrame, k: Int, rounds: Int,
          earlyStop: Boolean = true): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    val gens = new graft.util.Ckpt.Generations
    var e = gens.next(canon(edges))
    var prev = -1L
    var done = false
    var r = 0
    while (r < rounds && !done) {
      val next = gens.next(e
        .join(support(e).filter(col("supp") >= k - 2),
          Seq("u", "v"), "left_semi"))
      if (earlyStop) {
        val n = next.count()
        if (n == prev) done = true
        prev = n
      }
      e = next
      r += 1
    }
    e.join(support(e), Seq("u", "v"))
  }
}
