package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Single-source shortest path — Bellman-Ford relaxation as a DataFrame
  * loop (reference G9, `shortestpath/path.go:145-197`: min-cost message
  * relax until no vertex improves; negative weights rejected,
  * `path.go:87-93`; the answer includes the actual path, rebuilt from
  * per-vertex predecessor pointers, `path.go:115-141`).
  *
  * Distances are LongType so results are exact (and cross-engine
  * comparable). The relaxation runs on the [[Iterate]] kernel: only the
  * frontier — vertices that are new or whose `(dist, hops)` improved
  * last round — joins the edge table, its candidate `(dist, hops,
  * prev)` tuples meet the previous state in one `groupBy(id)` per
  * round, and the lexicographic minimum wins — ties on distance break
  * to the FEWEST HOPS first, then the smallest predecessor id. The hop
  * tie-break is what makes the predecessor tree well-founded under
  * zero-weight edges: every chosen prev has strictly fewer hops, so
  * back-walks strictly descend and can never cycle (prev-only
  * tie-breaking can be tricked into a 2-cycle by a zero-weight loop
  * whose ids sort below the true predecessor). Vertices never reached
  * are absent from the result (infinite distance).
  */
object ShortestPath {

  /** Full per-vertex state: (id, dist, hops, prev), where `prev` is
    * the chosen predecessor on a shortest path, `hops` its length in
    * edges, and "" marks the source.
    *
    * edges: (src, dst, w: long ≥ 0) — negative weights rejected up
    * front (one bounded scan) unless `validateWeights = false`. Runs
    * `maxHops` relaxation rounds (Bellman-Ford converges in ≤ |V|-1;
    * callers bound it); `earlyStop` ends it once no vertex improved.
    * Every round's state equals the dense relaxation of every known
    * vertex, because `prev` never enters a message. With `earlyStop =
    * false` the loop takes no probe action beyond the weight guard
    * (building each generation still runs its shuffle stages under
    * AQE). */
  def state(edges: DataFrame, sourceId: Any, maxHops: Int,
            earlyStop: Boolean = true,
            validateWeights: Boolean = true,
            noPrev: Any = ""): DataFrame = {
    // Persist the caller's edge subtree once (it is typically a scan +
    // aggregate and would otherwise re-execute for the guard and the
    // cache build), then hash-partition AND sort the static edge table
    // by the join key and cache it in that layout (InMemoryRelation
    // preserves the cached plan's partitioning and ordering): every
    // relaxation round then shuffles + sorts only the V-sized state
    // frame, never the E-sized edge table — the superstep co-location a
    // 100 TB cluster needs. Partition-count law as in PageRank: ~128k
    // edges per partition between 4 and the cluster parallelism, so
    // small graphs don't pay scheduler overhead for near-empty tasks.
    val e0 = edges.select(col("src"), col("dst"), col("w").cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val firstRow = e0
      .agg(count(when(col("w") < 0, lit(1))).as("neg"),
        count(lit(1)).as("n")).first()
    if (validateWeights) {
      require(firstRow.getLong(0) == 0,
        "negative edge weights are not supported (reference " +
          "shortestpath/path.go:87-93 rejects them)")
    }
    val p = GraphUtil.partitionLaw(firstRow.getLong(1),
      edges.sparkSession)
    val e = e0.repartition(p, col("src"))
      .sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession

    // `lit` keeps the caller's id type — string names or
    // dictionary-encoded longs both work; `noPrev` is the source's
    // predecessor sentinel in that same type.
    val source = spark.range(1).select(lit(sourceId).as("id"),
        lit(0L).as("dist"), lit(0).as("hops"), lit(noPrev).as("prev"))
      .transform(graft.util.Ckpt.store(_))
    val sp = struct(col("dist"), col("hops"), col("prev")).as("sp")
    Iterate.run(
      source,
      sendMsg = frontier => frontier
        .join(e.withColumnRenamed("src", "id"), Seq("id"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"),
          (col("hops") + 1).as("hops"), col("id").as("prev")),
      // candidates meet the state in vprog's one aggregation
      mergeMsg = identity,
      // The lexicographic min over the old state and the candidates. A
      // vertex is news when it is new or its (dist, hops) improved (a
      // shorter equal-cost route may still be propagating under
      // zero-weight edges); a smaller prev alone is not, since prev
      // never enters a message.
      vprog = (st, cand) => st
        .select(col("id"), sp, struct(col("dist"), col("hops")).as("was"))
        .unionByName(cand.select(col("id"), sp), allowMissingColumns = true)
        .groupBy("id").agg(min("sp").as("sp"), min("was").as("was"))
        .select(col("id"), col("sp.dist").as("dist"),
          col("sp.hops").as("hops"), col("sp.prev").as("prev"),
          coalesce(col("was").isNull || col("sp.dist") < col("was.dist") ||
            (col("sp.dist") === col("was.dist") &&
              col("sp.hops") < col("was.hops")), lit(false)).as("changed")),
      maxRounds = maxHops,
      earlyStop = earlyStop).state
  }

  /** Distances only — (id, dist), the reference's scalar answer. */
  def run(edges: DataFrame, sourceId: Any, maxHops: Int,
          earlyStop: Boolean = true, noPrev: Any = ""): DataFrame =
    state(edges, sourceId, maxHops, earlyStop, noPrev = noPrev)
      .select("id", "dist")

  /** Path reconstruction for EVERY reachable vertex at once: walks the
    * predecessor pointers `maxSteps` times in parallel (a join per step
    * against the state table, not a driver-side walk per destination).
    * Returns (id, dist, path) with path = "src->…->id". `maxSteps` must
    * be ≥ the relaxation hop bound — back-pointer chains cannot be
    * longer than the hop count that produced them. */
  def paths(st: DataFrame, maxSteps: Int): DataFrame = {
    val s = st.persist(StorageLevel.MEMORY_AND_DISK)
    var walk = s.select(col("id"), col("dist"),
      array(col("id")).as("path"), col("id").as("head"))
    val gens = new graft.util.Ckpt.Generations
    for (_ <- 0 until maxSteps) {
      walk = walk
        .join(s.select(col("id").as("head"), col("prev").as("ph")),
          Seq("head"))
        .select(col("id"), col("dist"),
          when(col("ph") === "", col("path"))
            .otherwise(concat(array(col("ph")), col("path"))).as("path"),
          when(col("ph") === "", col("head"))
            .otherwise(col("ph")).as("head"))
        .transform(gens.next)
    }
    walk.select(col("id"), col("dist"),
      concat_ws("->", col("path")).as("path"))
  }

  /** One destination's path as plain Scala (reference
    * `BuildShortestPathTo`): None if unreachable. */
  def pathTo(st: DataFrame, dst: String, maxSteps: Int): Option[Seq[String]] =
    paths(st, maxSteps).filter(col("id") === dst)
      .select("path").collect()
      .headOption.map(_.getString(0).split("->").toSeq)
}
