package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sketch.Sketches

/** HyperBall (Boldi & Vigna 2013, "In-core computation of geometric
  * centralities with HyperBall"): the neighborhood function N(v, t) =
  * |{u : dist(v,u) ≤ t}| for EVERY vertex simultaneously, each ball
  * held as an HLL sketch — the algorithm behind every web-scale
  * "effective diameter ≈ 6" measurement, and the natural next step for
  * the reference's link graph beyond single-source paths
  * (`graphs/bspgraph`): all-sources distance structure in
  * O(hops · |E| · m) register traffic instead of |V| BFS runs.
  *
  * Ball update is pure register max-merge along out-edges:
  * B_{t+1}(v) = merge(B_t(v), B_t(w)) for each v→w — associative,
  * duplicate-safe, exactly the HLL union algebra, so each hop is ONE
  * edge join + ONE (v, idx) hash-agg (map-side combinable; register
  * rows per vertex are bounded by min(m, ball size)). Estimates finish
  * through the SHARED grouped estimator ([[Sketches.hllEstimateGrouped]]
  * — decimal-exact harmonic sums, micros-snapped per vertex BEFORE the
  * cross-vertex sum), so per-hop totals are bit-reproducible and the
  * DuckDB oracle replays the register algebra verbatim.
  *
  * At 100 TB: per-hop state is |V| · ≤m tiny rows and the only shuffle
  * is keyed by vertex — contrast exact t-hop neighborhoods, whose
  * frontier sets explode combinatorially on dense graphs.
  */
object HyperBall {

  /** edges: (src, dst) long ids, directed; balls grow along OUT-edges
    * (pass a symmetrized edge list for undirected balls). Returns one
    * row per hop 0..hops: (hop, vertices, sum_est_micros) — the global
    * neighborhood function ΣN(·, t), each vertex's estimate snapped to
    * integer micros before the exact BIGINT sum. */
  def run(edges: DataFrame, p: Int = 5, hops: Int = 2): DataFrame = {
    require(hops >= 1, s"hops must be >= 1, got $hops")
    // Partitioned + sorted by the per-hop join key before the store,
    // so each hop's SMJ re-shuffles only the register table, never the
    // edge table (the Components/Communities layout law).
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct()
      .transform(GraphUtil.layout(_, "dst"))
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
    // B_0(v) = sketch of {v}: exactly one (idx, rho) observation.
    val gens = new graft.util.Ckpt.Generations
    var b = Sketches.hllObservationsKeyed(
        verts, Seq(col("id")), col("id").cast("string"), p)
      .withColumnRenamed("rho", "m_rho")
      .transform(gens.next)

    def hopTotal(regs: DataFrame, hop: Int): DataFrame =
      Sketches.hllEstimateGrouped(regs, Seq("id"), p)
        .agg(count(lit(1)).as("vertices"),
          sum("est_micros").as("sum_est_micros"))
        .select(lit(hop.toLong).as("hop"), col("vertices"),
          col("sum_est_micros"))

    var out = hopTotal(b, 0)
    for (t <- 1 to hops) {
      val msgs = e.join(b.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("idx"), col("m_rho"))
      b = b.unionByName(msgs)
        .groupBy("id", "idx").agg(max("m_rho").as("m_rho"))
        .transform(gens.next)
      out = out.unionByName(hopTotal(b, t))
    }
    out.orderBy("hop")
  }
}
