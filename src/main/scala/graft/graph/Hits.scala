package graft.graph

import graft.util.Ckpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources in
  * a hyperlinked environment") by power iteration — the second classic
  * link-analysis ranker next to PageRank (the reference ships only
  * PageRank, `pagerank/pagerank.go`; HITS is the standard companion a
  * search engine adds for topic-distillation queries).
  *
  * Update rule per iteration k (standard mutual recursion, auth first):
  *   auth_k(v) = Σ_{(u,v)∈E} hub_{k-1}(u)
  *   hub_k(u)  = Σ_{(u,v)∈E} auth_k(v)
  *
  * **Deliberately unnormalized**: rankings are invariant under the
  * per-iteration scale factor, and dropping it keeps every score an
  * EXACT BIGINT (the updates are pure integer sums), which makes the
  * operator bit-reproducible across engines with no float snapping at
  * all — the DuckDB oracle is a plain unrolled CTE chain. The price is
  * geometric growth: scores grow by at most (maxInDeg · maxOutDeg) per
  * iteration, so `iters` must satisfy
  * (maxInDeg · maxOutDeg)^iters · |V| < 2^63. The operator measures the
  * actual max degrees and fails loudly on projected overflow instead of
  * wrapping silently. At 100 TB-scale degree distributions, callers
  * needing many iterations should pre-cap hub degrees (as the ANN and
  * link-prediction operators do) or switch to the float/normalized
  * variant; for ranking, 3-5 exact iterations are the useful regime —
  * HITS converges at the rate of the principal eigengap and top ranks
  * stabilize in a handful of steps.
  *
  * Scale shape: identical to one PageRank superstep — two keyed
  * shuffles per iteration (messages grouped by dst, then by src), edge
  * table stored once, score frames kept plan-constant as stored
  * generations ([[graft.util.Ckpt]]; under AQE, building each one runs
  * its shuffle stages), each truncated once the next is built.
  */
object Hits {

  /** edges: (src, dst) long ids, pre-deduplicated by the caller.
    * Returns (id, hub, auth) BIGINT for every edge endpoint. */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .transform(Ckpt.store(_))
    val nEdges = e.count()
    val nPart = GraphUtil.partitionLaw(nEdges, spark)
    // TWO cached edge layouts, one per join key of the mutual
    // recursion (guide §2.4): the auth step joins on src, the hub step
    // on dst. With only the src layout, every hub step re-shuffled and
    // re-sorted the E-sized edge table to the dst key — per iteration.
    // With both layouts cached (partitioned AND sorted by their key,
    // which their stored leaves keep), each step's sort-merge join
    // exchanges only the V-sized score frame; the edge table never
    // moves again. Costs one extra E-sized shuffle at init — repaid by
    // the first iteration.
    val eCached = e.repartition(nPart, col("src"))
      .sortWithinPartitions("src").transform(Ckpt.store(_))
    val eByDst = e.repartition(nPart, col("dst"))
      .sortWithinPartitions("dst").transform(Ckpt.store(_))

    // Overflow guard: exact worst-case growth bound from the real
    // degree profile — two tiny independent aggs, computed in ONE
    // driver action (crossJoin of their 1-row results).
    val degRow = eByDst.groupBy("dst").count().agg(max("count").as("mi"))
      .crossJoin(eCached.groupBy("src").count().agg(max("count").as("mo")))
      .head()
    val maxIn = degRow.getLong(0)
    val maxOut = degRow.getLong(1)
    val growth = math.max(1L, maxIn) * math.max(1L, maxOut)
    // score bound: hub_k, auth_k ≤ growth^k (hub_0 = 1), so the bit
    // width is iters · bitlen(growth); +2 margin for the final sums.
    val bits = iters * (64 - java.lang.Long.numberOfLeadingZeros(growth)) + 2
    require(bits < 63,
      s"HITS overflow risk: growth bound $growth^$iters exceeds BIGINT; " +
        "reduce iters or pre-cap degrees")

    val verts = eCached.select(col("src").as("id"))
      .union(eCached.select(col("dst").as("id")))
      .distinct()
      .repartition(nPart, col("id"))
      .transform(Ckpt.store(_))

    var hub: DataFrame = verts.withColumn("hub", lit(1L))
    var auth: DataFrame = null
    val auths, hubs = new Ckpt.Generations // one instance each
    for (k <- 1 to iters) {
      // auth_k = Σ hub_{k-1} over in-edges; vertices with no in-edges
      // simply don't appear (score 0, restored by the final left join).
      auth = auths.next(eCached.join(hub.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum("hub").as("auth")))
      hub = hubs.next(eByDst.join(auth.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(sum("auth").as("hub")))
    }
    verts
      .join(hub, Seq("id"), "left")
      .join(auth, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
  }
}
