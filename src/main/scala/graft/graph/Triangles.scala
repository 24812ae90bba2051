package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._

/** Exact triangle counting with degree-ordered orientation (the
  * node-iterator++ of Schank & Wagner 2005; the edge-iterator
  * formulation with adjacency intersections, cf. Suri & Vassilvitskii
  * 2011's MapReduce adaptation).
  *
  * Orient every undirected edge from its lower endpoint to its higher
  * endpoint under the total order (degree, id). Each triangle a→b, a→c,
  * b→c is then found EXACTLY once: at its base edge (a, b), as
  * `c ∈ N⁺(a) ∩ N⁺(b)` — and, crucially for scale, out-degree under
  * this orientation is O(sqrt(m)) even for a hub whose raw degree is
  * millions, so the per-vertex adjacency arrays are always bounded and
  * a celebrity vertex generates almost no intersection work. The count
  * is identical under any total order (which is why the DuckDB oracle
  * can use simple id-ordering).
  *
  * Plan shape: degree agg → oriented edges (persisted once) →
  * out-adjacency arrays (one groupBy) → the edge table joins its two
  * endpoints' arrays and intersects PER ROW. Versus the classic
  * wedge-join + closing-edge probe, nothing the size of the wedge
  * stream (Σ d⁺² — 41M rows on the sf0.1 co-purchase graph) is ever
  * materialized as join output: the only wide rows carry two bounded
  * arrays, and the intersection emits actual triangles (≪ wedges).
  * Measured at sf0.1: q56 7.0 s → see COVERAGE bench round 6.
  */
object Triangles {

  /** Canonical distinct undirected edges + (degree, id)-oriented edge
    * table (src, dst) with out-adjacency arrays per src. Shared prep
    * for [[count]] and [[clusteringCoefficients]]. */
  private case class Prep(canon: DataFrame, oriented: DataFrame,
                          deg: DataFrame, adj: DataFrame)

  private def prep(und: DataFrame): Prep = {
    val canon = und.select(
        least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = canon.select(col("u").as("x"))
      .union(canon.select(col("v").as("x")))
      .groupBy("x").agg(functions.count(lit(1)).as("d"))
    val withDeg = canon
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    // orient from lower to higher (degree, id)
    val lowerIsU = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // Two consumers downstream (the edge stream + the adjacency agg):
    // persist, or the degree joins re-execute per consumer.
    val oriented = withDeg.select(
        when(lowerIsU, col("u")).otherwise(col("v")).as("src"),
        when(lowerIsU, col("v")).otherwise(col("u")).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = oriented.groupBy("src")
      .agg(collect_list(col("dst")).as("nbrs"))
    Prep(canon, oriented, deg, adj)
  }

  /** One row (n_edges, n_triangles) for the undirected graph given as
    * (u, v) pairs in any orientation/multiplicity. */
  def count(und: DataFrame): DataFrame = {
    val p = prep(und)
    try {
      val nEdges = p.canon.count()
      val spark = und.sparkSession
      val nTri = p.oriented
        .join(p.adj.select(col("src"), col("nbrs").as("na")), Seq("src"))
        .join(p.adj.select(col("src").as("dst"), col("nbrs").as("nb")),
          Seq("dst"))
        .select(size(array_intersect(col("na"), col("nb")))
          .cast("long").as("t"))
        .agg(coalesce(sum("t"), lit(0L)).as("n"))
        .first().getLong(0)
      import spark.implicits._
      // eager count already materialized — the returned frame is a
      // literal, safe after unpersist
      Seq((nEdges, nTri)).toDF("n_edges", "n_triangles")
    } finally {
      p.oriented.unpersist(blocking = false)
      p.canon.unpersist(blocking = false)
    }
  }

  /** Local clustering coefficient per vertex:
    * `c(v) = 2·T(v) / (d(v)·(d(v)−1))`, 0 for degree < 2 — the classic
    * Watts–Strogatz local density measure (spam/community signal on a
    * link graph). Per-vertex triangle membership is orientation-
    * invariant — every triangle is emitted once (exploded from its base
    * edge's intersection) and credited to all three corners — so the
    * oracle can count with plain id-ordering. */
  def clusteringCoefficients(und: DataFrame): DataFrame = {
    val p = prep(und)
    try {
      val tris = p.oriented
        .join(p.adj.select(col("src"), col("nbrs").as("na")), Seq("src"))
        .join(p.adj.select(col("src").as("dst"), col("nbrs").as("nb")),
          Seq("dst"))
        .select(col("src"), col("dst").as("b"),
          explode(array_intersect(col("na"), col("nb"))).as("c"))
      val triCnt = tris
        .select(explode(array(col("src"), col("b"), col("c"))).as("x"))
        .groupBy("x").agg(functions.count(lit(1)).as("t"))
      val out = p.deg.join(triCnt, Seq("x"), "left")
        .select(col("x").as("id"), col("d").as("degree"),
          coalesce(col("t"), lit(0L)).as("tri_cnt"))
        .withColumn("coeff",
          when(col("degree") >= 2,
            (lit(2.0) * col("tri_cnt")) /
              (col("degree") * (col("degree") - 1)))
            .otherwise(lit(0.0)))
      // materialize before dropping the caches the plan depends on
      graft.util.Ckpt.generation(out).truncate()
    } finally {
      p.oriented.unpersist(blocking = false)
      p.canon.unpersist(blocking = false)
    }
  }
}
