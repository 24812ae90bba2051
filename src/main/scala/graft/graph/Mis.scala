package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal independent set via Luby's algorithm (Luby 1986, "A simple
  * parallel algorithm for the maximal independent set problem"),
  * deterministic variant: static per-vertex priorities from a 64-bit
  * hash of the id, ties broken by id, so the (priority, id) order is a
  * strict total order and reruns are bit-identical. The fixed point is
  * the canonical greedy MIS (v ∈ MIS iff no (prio,id)-smaller neighbor
  * is in MIS), independent of round scheduling.
  *
  * Per round, over the LIVE subgraph (edges with both endpoints still
  * undecided):
  *   - a vertex whose (prio, id) is strictly smaller than every live
  *     neighbor's joins the MIS (adjacent simultaneous joins are
  *     impossible under a strict total order);
  *   - its live neighbors become dominated in the same round;
  *   - both leave the undecided set, and the live edge table is
  *     re-filtered to the survivors and lineage-truncated.
  *
  * The topology shrink is the point (the Coloring pattern, not the
  * static-edge [[Iterate]] pattern Components/LPA/TemporalReach use):
  * Luby decides the bulk of a skewed graph in the first round or two,
  * after which each round's join touches only the residual subgraph —
  * without the shrink, every round re-shuffles the FULL edge table
  * against a nearly-empty frontier, which is where the old
  * implementation spent ~10 s at sf0.1 on three near-empty tail
  * rounds.
  *
  * Correctness is characterized by two SQL-checkable invariants —
  * independence (no edge inside the set) and maximality (every
  * non-member has a member neighbor) — which is exactly what the q147
  * oracle asserts, mirroring the q13 coloring properness pattern.
  */
object Mis {

  /** @param edges directed pairs (src, dst); symmetrized internally.
    *              Self-loops must be absent — a self-looped vertex can
    *              neither join (it is its own neighbor) nor be
    *              dominated, so the MIS is undefined for it.
    * @return (id, in_mis) for every endpoint, deterministic. */
  def run(edges: DataFrame, maxRounds: Int = 200): DataFrame = {
    val spark = edges.sparkSession
    // no distinct: duplicate edges are harmless (min/semi-join logic is
    // multiset-tolerant), and dropping the dedup saves a full-width
    // shuffle of the biggest table in the loop
    var live = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(false)
    var undecided = live.select(col("src").as("id")).distinct()
      .select(col("id"), xxhash64(col("id")).as("prio"))
      .localCheckpoint(false)
    var decided = spark.emptyDataFrame
      .select(lit(0L).as("id"), lit(false).as("in_mis")).limit(0)

    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      // min (prio, id) among live neighbors — prio is a PURE hash of the
      // id, so no join against the vertex table is ever needed; live's
      // endpoints are undecided by construction. Isolated vertices (no
      // live edge) have no smaller neighbor and join unconditionally.
      val nbrMin = live
        .groupBy(col("dst").as("id"))
        .agg(min(struct(xxhash64(col("src")).as("p"), col("src").as("i")))
          .as("min_nbr"))
      val joiners = undecided.join(nbrMin, Seq("id"), "left")
        .filter(col("min_nbr").isNull ||
          struct(col("prio").as("p"), col("id").as("i")) < col("min_nbr"))
        .select("id")
        .localCheckpoint(false)
      val dominated = live
        .join(joiners.withColumnRenamed("id", "src"), Seq("src"),
          "left_semi")
        .select(col("dst").as("id")).distinct()
        .localCheckpoint(false) // never contains a joiner (strict order)

      // decided pieces are already checkpointed — accumulate lazily
      decided = decided
        .unionAll(joiners.select(col("id"), lit(true).as("in_mis")))
        .unionAll(dominated.select(col("id"), lit(false).as("in_mis")))
      undecided = undecided
        .join(joiners.unionAll(dominated), Seq("id"), "left_anti")
        .localCheckpoint(false)
      if (undecided.limit(1).count() == 0) done = true
      else {
        val ids = undecided.select("id")
        live = live
          .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst")
          .localCheckpoint(false)
      }
      round += 1
    }
    // maxRounds exhaustion leaves stragglers undecided → not in the set
    decided.unionAll(undecided.select(col("id"), lit(false).as("in_mis")))
  }
}
