package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Greedy graph coloring with randomized-token symmetry breaking —
  * reference G10 (`color/color.go:133-200`): each round, every uncolored
  * vertex whose (token, id) is highest among its *uncolored* neighbours
  * picks the minimum color unused by any neighbour; undirectedness is
  * imposed by inserting reverse edges (`color.go:90-98`); pre-colored
  * vertices are honoured (`color.go:85-87`).
  *
  * Scale design:
  *  - sparse activation: settled vertices are never re-touched — their
  *    colors flow once into neighbours' `forbidden` sets (O(E) total
  *    message volume over the whole run);
  *  - the undirected edge table is cached once; per-round frames are
  *    derived from it by semi-joins against the shrinking uncolored set
  *    (no per-round edge materialization);
  *  - one driver action per round; generations are truncated with lazy
  *    `localCheckpoint` so the logical plan stays constant-size;
  *  - tail cutoff: Luby-style rounds shed a constant fraction per round,
  *    so after O(log V) rounds a tiny residual subgraph pays full
  *    cluster-job latency per round — once it fits comfortably on the
  *    driver (`localFinishThreshold` rows) the SAME round rule runs
  *    in-memory, producing bit-identical colors.
  * Tokens are deterministic (`xxhash64`, ties broken by id), so the
  * coloring is reproducible and always progresses.
  */
object Coloring {

  /** vertices: (id [, color]) — optional pre-colored rows; edges:
    * (src, dst), treated as undirected. Returns (id, color).
    *
    * The driver-side tail finish engages only when BOTH the residual
    * vertex count and the residual edge count fit their thresholds — a
    * dense residual can carry far more edges than vertices, and the
    * collect is bounded by the larger of the two.
    *
    * `speculative = false` (default) is the reference-faithful
    * Jones-Plassmann rule: a vertex colors once every higher-priority
    * neighbour has — bit-identical to the reference's sequential greedy,
    * but the expected shed per round is only ~1/(degree+1), so the
    * round count GROWS WITH DEGREE (the 5M-edge scale canary sheds
    * ~2-5%/round: ~80 rounds). `speculative = true` is the
    * 100×-scale strategy: every uncolored vertex proposes
    * `mex(forbidden)` simultaneously and only same-color conflicts
    * (against a higher-priority neighbour) retry — most of the graph
    * colors every round, converging in O(log V) rounds independent of
    * degree. Still deterministic and proper (ColoringSpec), but the
    * palette is no longer the sequential-greedy one. */
  def run(vertices: DataFrame, edges: DataFrame,
          maxRounds: Int = 1000,
          localFinishThreshold: Long = 150000,
          localFinishEdgeThreshold: Long = 2000000,
          foldEvery: Int = 8,
          speculative: Boolean = false): DataFrame =
    runImpl(Some(vertices), edges, maxRounds, localFinishThreshold,
      localFinishEdgeThreshold, foldEvery, speculative)

  /** Color the graph whose vertex set is EXACTLY the edge endpoints —
    * the common case when the graph IS an edge table. The vertex set is
    * derived from the cached undirected table (a partition-local
    * distinct — the cache is already hash-partitioned by src), so the
    * caller doesn't pay a separate wide distinct over the raw edges.
    * Isolated vertices (no edges) don't exist by construction here; use
    * [[run]] when they can. */
  def runFromEdges(edges: DataFrame,
                   maxRounds: Int = 1000,
                   localFinishThreshold: Long = 150000,
                   localFinishEdgeThreshold: Long = 2000000,
                   foldEvery: Int = 8,
                   speculative: Boolean = false): DataFrame =
    runImpl(None, edges, maxRounds, localFinishThreshold,
      localFinishEdgeThreshold, foldEvery, speculative)

  private def runImpl(verticesOpt: Option[DataFrame], edges: DataFrame,
          maxRounds: Int,
          localFinishThreshold: Long,
          localFinishEdgeThreshold: Long,
          foldEvery: Int,
          speculative: Boolean): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Partitioned by src so the per-round neighbour-max aggregation and
    // the src-side joins run without re-shuffling the edge table (the
    // winner frames are small enough to broadcast, preserving the
    // layout through the anti-joins). Partition-count law as in
    // PageRank/ShortestPath: ~128k undirected edges per partition,
    // floored at 4 and capped at the cluster parallelism — per-round
    // frames inherit this count, so small residual graphs don't pay
    // scheduler overhead for dozens of near-empty tasks.
    val p = GraphUtil.partitionLaw(2 * edges.count(), spark)
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .repartition(p, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Derived vertex set: both edge directions are in `und`, so src
    // alone covers every endpoint, and the distinct is partition-local
    // on the cached layout (no wide exchange).
    val vertices = verticesOpt.getOrElse(
      und.select(col("src").as("id")).distinct())
    val hasColor = vertices.columns.contains("color")
    val init = vertices
      .select(col("id"),
        (if (hasColor) col("color") else lit(null)).cast("int").as("color"))
      .withColumn("token", abs(xxhash64(col("id"))))

    // mex(sorted distinct colors): fold left — acc+1 while acc == next.
    def mex(sortedColors: org.apache.spark.sql.Column) =
      aggregate(sortedColors, lit(0),
        (acc, c) => when(c === acc, acc + 1).otherwise(acc))

    val emptyInts = array().cast("array<int>")
    val preColored = init.filter(col("color").isNotNull)
      .select("id", "color")

    // Without pre-colored rows every initial forbidden set is empty —
    // skip the (always-empty) neighbour-color join entirely.
    var uncolored = (if (hasColor)
      init.filter(col("color").isNull)
        .join(und
          .join(preColored.withColumnRenamed("id", "dst"), Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(sort_array(collect_set(col("color"))).as("forbidden")),
          Seq("id"), "left")
        .select(col("id"), col("token"),
          coalesce(col("forbidden"), emptyInts).as("forbidden"))
    else
      init.select(col("id"), col("token"), emptyInts.as("forbidden")))
      .localCheckpoint(false)

    // Active edges: both endpoints uncolored, annotated with the dst's
    // token — shrinks monotonically by anti-join against each round's
    // winners, so per-round work tracks the live subgraph, not |E|.
    // The token is a pure function of the id, so it's computed in place
    // (no join); only pre-colored vertices need filtering out, by
    // anti-join against the (typically small) pre-colored set.
    val withTok = und.withColumn("n_token", abs(xxhash64(col("dst"))))
    var active = (if (hasColor)
      withTok
        .join(preColored.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(preColored.select(col("id").as("dst")), Seq("dst"), "left_anti")
    else withTok)
      .localCheckpoint(false)

    // Both residual bounds come from ONE job per round: a constant-key
    // union-count over two frames the round must materialize anyway
    // (map-side partial aggregation reduces each partition to one row,
    // so the count itself is ~free). This halves the driver round-trips
    // the previous two-action (winners.count + active.count) loop paid.
    def countBoth(a: DataFrame, ka: String,
                  b: DataFrame, kb: String): (Long, Long) = {
      val m = a.select(lit(ka).as("k"))
        .unionAll(b.select(lit(kb).as("k")))
        .groupBy("k").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (m.getOrElse(ka, 0L), m.getOrElse(kb, 0L))
    }

    var (remaining, activeEdges) = countBoth(uncolored, "v", active, "e")
    var doneParts: List[DataFrame] = List(preColored)
    var round = 0
    var finishLocally = false

    while (remaining > 0 && round < maxRounds && !finishLocally) {
      if (remaining <= localFinishThreshold &&
          activeEdges <= localFinishEdgeThreshold) { finishLocally = true }
      else {
      val winners = (if (speculative) {
        // Everyone proposes its mex; an edge where both ends propose the
        // SAME color knocks out the lower-priority end. Both directions
        // of every edge are present, so each conflict pair loses exactly
        // its lower end.
        val prop = uncolored.withColumn("c", mex(col("forbidden")))
        val beaten = active
          .join(prop.select(col("id").as("src"), col("c").as("src_c"),
            col("token").as("src_t")), Seq("src"))
          .join(prop.select(col("id").as("dst"), col("c").as("dst_c")),
            Seq("dst"))
          .filter(col("src_c") === col("dst_c") &&
            struct(col("n_token"), col("dst")) >
              struct(col("src_t"), col("src")))
          .select(col("src").as("id")).distinct()
        prop.join(beaten, Seq("id"), "left_anti")
          .select(col("id"), col("c").as("color"))
      } else {
        val nbrMax = active
          .groupBy(col("src").as("id"))
          .agg(max(struct(col("n_token"), col("dst"))).as("max_nbr"))
        uncolored.join(nbrMax, Seq("id"), "left")
          .filter(col("max_nbr").isNull ||
            struct(col("token"), col("id")) > col("max_nbr"))
          .select(col("id"), mex(col("forbidden")).as("color"))
      }).localCheckpoint(false)

      // Colors won this round flow into still-uncolored neighbours.
      val msgs = active
        .join(winners.withColumnRenamed("id", "wdst"),
          active("dst") === col("wdst"))
        .groupBy(col("src").as("id"))
        .agg(collect_set(col("color")).as("new_forbidden"))

      uncolored = uncolored
        .join(winners.select(col("id")), Seq("id"), "left_anti")
        .join(msgs, Seq("id"), "left")
        .select(col("id"), col("token"),
          sort_array(array_union(col("forbidden"),
            coalesce(col("new_forbidden"), emptyInts))).as("forbidden"))
        .localCheckpoint(false)
      active = active
        .join(winners.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(winners.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .localCheckpoint(false)

      // The round's single driver action: materializes the winners and
      // next-active checkpoints and returns both residual bounds.
      val (nWon, nEdges) = countBoth(winners, "w", active, "e")
      activeEdges = nEdges

      doneParts ::= winners
      if (doneParts.length >= foldEvery)
        doneParts = List(doneParts.reduce(_ unionByName _)
          .localCheckpoint(false))
      remaining -= nWon
      round += 1
      }
    }

    if (remaining > 0) {
      // ---- driver-side finish: bit-identical to the round protocol ----
      // In the token protocol a vertex wins exactly when every
      // higher-priority neighbour (larger (token, id)) is already
      // colored, so its forbidden set at that moment is the initial set
      // plus the colors of precisely its higher-priority neighbours.
      // Sequential greedy in decreasing (token, id) order sees the same
      // forbidden set per vertex → identical colors, in ONE O(V log V +
      // E) pass instead of O(rounds × (V + E)) winner scans.
      // `active` is exactly the both-endpoints-uncolored edge set (both
      // directions), already materialized — no extra joins to collect it.
      doneParts ::= (uncolored.schema("id").dataType match {
        case org.apache.spark.sql.types.LongType =>
          localGreedy[Long](uncolored, active)
        case _ => localGreedy[String](uncolored, active)
      })
    }
    und.unpersist(false)
    doneParts.reduce(_ unionByName _).select("id", "color")
  }

  /** The driver-side tail pass, generic over the vertex-id type (string
    * names or dictionary-encoded longs). The id `Ordering` must match
    * Spark's column ordering — true for Long, and for String Spark's
    * binary UTF8 compare matches `Ordering.String` on the ASCII ids used
    * here (same assumption the distributed struct compare has always
    * made). */
  private def localGreedy[I](uncolored: DataFrame, active: DataFrame)(
      implicit vEnc: org.apache.spark.sql.Encoder[(I, Long, Seq[Int])],
      eEnc: org.apache.spark.sql.Encoder[(I, I)],
      oEnc: org.apache.spark.sql.Encoder[(I, Int)],
      ord: Ordering[I]): DataFrame = {
    val spark = uncolored.sparkSession
    val vs = uncolored.select("id", "token", "forbidden")
      .as[(I, Long, Seq[Int])].collect()
    val es = active.select("src", "dst").as[(I, I)].collect()

    val forbidden = scala.collection.mutable.Map(
      vs.map(v => v._1 -> scala.collection.mutable.Set(v._3: _*)): _*)
    val nbrs = scala.collection.mutable.Map[I, List[I]]()
      .withDefaultValue(Nil)
    es.foreach { case (s, d) => nbrs(s) = d :: nbrs(s) }
    val order = vs.sortBy(v => (v._2, v._1))(
      Ordering.Tuple2(Ordering.Long, ord).reverse)
    val out = new scala.collection.mutable.ArrayBuffer[(I, Int)](vs.length)
    order.foreach { case (v, _, _) =>
      val f = forbidden(v)
      var c = 0
      while (f.contains(c)) c += 1
      out += ((v, c))
      nbrs(v).foreach(u => forbidden.get(u).foreach(_ += c))
    }
    spark.createDataset(out.toSeq).toDF("id", "color")
  }
}
