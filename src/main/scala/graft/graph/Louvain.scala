package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronized Louvain (Blondel et al. 2008): the modularity-gain MOVE
  * phase and the community-contraction (COARSEN) phase, both in exact
  * integer arithmetic. Comparing ΔQ across target communities only
  * needs the c-dependent numerators —
  *
  *   S(v, c) = 2W·k_{v,c} − k_v·(Σtot_c − [c = cur(v)]·k_v)
  *
  * (ΔQ scaled by 2W² and shifted by terms constant in c; the [c = cur]
  * correction removes v's own degree from its community total — the
  * standard "remove v, then re-insert" bookkeeping; W = total edge
  * weight, k = weighted degree with self-loops counted twice, k_{v,c} =
  * weight from v into c excluding v's self-loop, which moves with v) —
  * so the argmax + move decision is exact long arithmetic,
  * engine-reproducible and SQL-replayable. Ties break to the smaller
  * community label.
  *
  * Synchronized semantics: all vertices decide on the PREVIOUS round's
  * labels (sequential Louvain is visit-order-dependent — unreplayable
  * distributed). Naive synchronized moves oscillate: two vertices (or
  * two communities) happily swap membership forever — the classic
  * failure the distributed-Louvain literature patches (Lu et al. 2015's
  * minimum-label heuristic; Sotera DGA's alternating constraint). We
  * use the alternating-direction rule: odd rounds may only move DOWN
  * (target label < current), even rounds only UP. Each round's move
  * set is then acyclic in label order — a swap needs one move in each
  * direction — and any down-up round pair can express an arbitrary
  * move, so convergence quality is preserved while every round stays
  * deterministic.
  *
  * [[coarsen]] closes the cycle: contract each community to a
  * super-vertex, intra-community weight becoming its self-loop;
  * modularity of a partition of the coarse graph equals modularity of
  * the lifted partition of the original (the Louvain invariant), so
  * move rounds on the condensation keep optimizing the same objective
  * at community-count scale instead of vertex-count scale.
  *
  * Scale: one neighbor-label join (keyed on the edge endpoint), one
  * (vertex, community) hash-agg, one community-total hash-agg per
  * round; the 2W scalar rides as a broadcast one-row frame. No
  * all-pairs stage. Overflow headroom: S is bounded by 2W·k_max —
  * past ~2^62 the scaled gain needs DECIMAL(38,0); the algebra is
  * unchanged.
  */
object Louvain {

  /** One synchronized move round on an UNWEIGHTED graph. `edges`:
    * canonical undirected edge list (src, dst), no duplicates, no
    * self-loops. `labels`: (id, lab) covering every endpoint.
    * `allowUp = false` permits only targets with smaller labels than
    * the current community (plus staying), `true` only larger. */
  def moveRound(edges: DataFrame, labels: DataFrame,
                allowUp: Boolean): DataFrame =
    moveRoundWeighted(
      edges.select(col("src"), col("dst"), lit(1L).as("w")),
      labels, allowUp)

  /** Weighted move round. `wedges`: canonical undirected weighted edge
    * list (src, dst, w) — self-loop rows (src = dst) carry a
    * community's internal weight and count twice in its degree. */
  def moveRoundWeighted(wedges: DataFrame, labels: DataFrame,
                        allowUp: Boolean): DataFrame = {
    val e2 = bothWays(wedges)
    val deg = degrees(wedges)
    core(e2, deg, deg.agg(sum("k").as("m2")), labels, allowUp)
  }

  /** Both-orientation non-self edges (src, dst, w). */
  private def bothWays(wedges: DataFrame): DataFrame = {
    val ns = wedges.filter(col("src") =!= col("dst"))
    ns.select(col("src"), col("dst"), col("w"))
      .union(ns.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
  }

  /** Weighted degrees: incident non-self weight + 2× self-loop. */
  private def degrees(wedges: DataFrame): DataFrame =
    bothWays(wedges).select(col("src").as("id"), col("w"))
      .union(wedges.filter(col("src") === col("dst"))
        .select(col("src").as("id"), (col("w") * 2).as("w")))
      .groupBy("id").agg(sum("w").as("k"))

  /** Round body over precomputed round-invariants (both-orientation
    * non-self edges, weighted degrees, the 2W one-row scalar). */
  private def core(e2: DataFrame, deg: DataFrame, m2: DataFrame,
                   labels: DataFrame, allowUp: Boolean): DataFrame = {
    val lab = labels.select(col("id"), col("lab"))
    val tot = lab.join(deg, "id")
      .groupBy(col("lab").as("c")).agg(sum("k").as("tot"))
    // Candidate set = neighbor communities ∪ the current community,
    // folded into ONE aggregation (the old separate kvc groupBy(src,c)
    // re-aggregated by the same key one exchange later — guide §2.4:
    // operations keyed the same way share one exchange). Clustering by
    // `id` alone (a subset of the group key, so the aggregate's
    // distribution requirement is satisfied) leaves the output
    // partitioned by the NEXT operation's join key, so the `cur` join
    // below adds no exchange either.
    val cand = e2
      .join(lab.select(col("id").as("dst"), col("lab").as("c")), "dst")
      .select(col("src").as("id"), col("c"), col("w").as("kvc"))
      .unionByName(lab.select(col("id"), col("lab").as("c"),
        lit(0L).as("kvc")))
      .repartition(col("id"))
      .groupBy("id", "c").agg(sum("kvc").as("kvc"))
    val cur = lab.join(deg, "id") // id, lab (current), k
    // Join order chosen for exchange elision: cur joins on the `id`
    // the candidate stream is already clustered by; the tot join then
    // moves only the direction-filtered half of the stream; the final
    // groupBy(id) is the only id re-exchange. (Filter placement
    // commutes with the inner joins — identical rows, identical
    // argmax.)
    // (gain desc, c asc) argmax as one packed-decimal HashAggregate
    // (GraphUtil.argmaxLabel; |gain| ≤ 2W·k_max < 2⁶² keeps it exact —
    // measured q233 ~-40% on the round's agg stages vs the struct form)
    GraphUtil.argmaxLabel(
      cand.join(cur, "id")
        .filter(if (allowUp) col("c") >= col("lab")
                else col("c") <= col("lab"))
        .join(tot, "c").crossJoin(broadcast(m2)),
      "id",
      col("m2") * col("kvc") - col("k") *
        (col("tot") - when(col("c") === col("lab"), col("k"))
          .otherwise(lit(0L))),
      col("c"), "lab")
  }

  /** Contract a partition: communities become super-vertices, edge
    * weights sum, intra-community weight becomes the super-vertex's
    * self-loop. Returns canonical weighted edges (src ≤ dst, w).
    * Input edges are unweighted (w = 1 each); coarsening an
    * already-weighted graph is [[coarsenWeighted]]. */
  def coarsen(edges: DataFrame, labels: DataFrame): DataFrame =
    coarsenWeighted(
      edges.select(col("src"), col("dst"), lit(1L).as("w")), labels)

  /** Contract a WEIGHTED partition — the level ≥ 2 coarsening of the
    * hierarchy: weights sum, prior self-loops fold into the new
    * super-vertex self-loops (same lift invariant). */
  def coarsenWeighted(wedges: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.select(col("id"), col("lab"))
    wedges
      .join(lab.select(col("id").as("src"), col("lab").as("la")), "src")
      .join(lab.select(col("id").as("dst"), col("lab").as("lb")), "dst")
      .select(least(col("la"), col("lb")).as("src"),
        greatest(col("la"), col("lb")).as("dst"), col("w"))
      .groupBy("src", "dst").agg(sum("w").as("w"))
  }

  /** Exact integer modularity numerator of a weighted partition:
    * qnum = Σ_c (m2·in_c − tot_c²), with m2 = Σ degrees (= 2W, the
    * Louvain-invariant total weight), in_c = intra-community weight
    * counting both orientations + self-loops twice, tot_c = Σ degrees
    * over c. Q = qnum / m2² — for an unweighted graph this is EXACTLY
    * q139's Σ(4m·m_c − d_c²) integer (m2 = 2m, in_c = 2m_c), so the
    * convergence criterion below measures with the same stick, and its
    * value is comparable ACROSS LEVELS because coarsening preserves
    * both total weight and lifted modularity. DECIMAL(38,0) sums; one
    * driver scalar. */
  private def qNumFrame(wedges: DataFrame, e2: DataFrame, deg: DataFrame,
                        labels: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val lab = labels.select(col("id"), col("lab"))
    val tot = lab.join(deg, "id").groupBy(col("lab").as("c"))
      .agg(sum(col("k").cast(dec)).as("tot"))
    val intra = e2
      .join(lab.select(col("id").as("src"), col("lab").as("ls")), "src")
      .join(lab.select(col("id").as("dst"), col("lab").as("ld")), "dst")
      .filter(col("ls") === col("ld"))
      .select(col("ls").as("c"), col("w"))
      .unionByName(wedges.filter(col("src") === col("dst"))
        .join(lab.select(col("id").as("src"), col("lab").as("c")), "src")
        .select(col("c"), (col("w") * 2).as("w")))
      .groupBy("c").agg(sum(col("w").cast(dec)).as("in"))
    val m2 = deg.agg(sum(col("k").cast(dec)).as("m2"))
    tot.join(intra, Seq("c"), "left").na.fill(0, Seq("in"))
      .crossJoin(broadcast(m2))
      .agg(sum(col("m2") * col("in") - col("tot") * col("tot"))
        .as("qnum"))
  }

  private def qNum(wedges: DataFrame, e2: DataFrame, deg: DataFrame,
                   labels: DataFrame): java.math.BigDecimal =
    qNumFrame(wedges, e2, deg, labels).first().getDecimal(0)

  /** One level's move phase run UNTIL CONVERGED — by EXACT modularity
    * stability, not zero moves: stop when a full down+up round pair
    * leaves the integer modularity numerator unchanged (or at
    * `roundCap`, the runaway guard). Zero-moves is the textbook
    * sequential criterion but is unreachable under synchronized
    * alternating-direction semantics: at EQUAL gain the tie-break
    * prefers the smaller label (that determinism is what makes rounds
    * replayable), so symmetric structures ping-pong equal-modularity
    * labelings forever — the probe fixture: an 8-vertex path keeps
    * swapping boundary vertices at ΔQ = 0 for any round budget. Q is
    * what the moves optimize, Q is integer-exact here (no ε needed),
    * so "no Q change across one pair" IS convergence of the objective;
    * q139's operator is the measuring stick, weighted-generalized.
    *
    * Returns (labels, rounds run, vertices moved, final qnum). The
    * convergence test costs one label-join aggregation + ONE driver
    * scalar per round — the same cardinality discipline as PageRank's
    * convergence driver (G5); labels are per-round localCheckpoints
    * for the same 4×-reference lineage reason as [[run]]. */
  def moveUntilConverged(wedges: DataFrame, roundCap: Int)
      : (DataFrame, Int, Long, java.math.BigDecimal) = {
    require(roundCap >= 2, s"need >= 2 rounds for a down+up pair")
    val we = wedges.transform(graft.util.Ckpt.lean)
    val e2 = bothWays(we).transform(graft.util.Ckpt.lean)
    val deg = degrees(we).transform(graft.util.Ckpt.lean)
    val m2 = deg.agg(sum("k").as("m2"))
    var lab = deg.select(col("id"), col("id").as("lab"))
    var q = qNum(we, e2, deg, lab)
    var r = 0
    var stableStreak = 0
    var totalMoved = 0L
    while (r < roundCap && stableStreak < 2) {
      r += 1
      val next = core(e2, deg, m2, lab, allowUp = r % 2 == 0)
        .transform(graft.util.Ckpt.lean)
      // ONE driver action per round (was two): moved-count and the
      // exact modularity numerator are independent aggregates over the
      // same checkpointed label generation, so crossJoining their
      // 1-row frames lets a single job compute both — the scheduler
      // runs the two legs' stages concurrently and the loop saves a
      // driver round-trip + job fixed cost per round (guide §2.6).
      // Identical values: a zero-move round's labels equal the
      // previous round's, so its qnum is exactly the q the old code
      // carried over without recomputing.
      val movedDf = next
        .join(lab.select(col("id"), col("lab").as("prev")), "id")
        .agg(count(when(col("lab") =!= col("prev"), lit(1))).as("moved"))
      val row = movedDf.crossJoin(qNumFrame(we, e2, deg, next)).first()
      val moved = row.getLong(0)
      val nextQ = row.getDecimal(1)
      totalMoved += moved
      stableStreak =
        if (nextQ.compareTo(q) == 0) stableStreak + 1 else 0
      q = nextQ
      lab = next
    }
    (lab, r, totalMoved, q)
  }

  /** Per-level convergence record of [[runConverged]]: rounds run,
    * vertices moved, communities at the level's close, and the level's
    * closing modularity in micros (qnum / m2² — comparable across
    * levels by the Louvain lift invariant). */
  final case class LevelTrace(level: Int, rounds: Int, moved: Long,
                              comms: Long, qMicros: Long)

  /** Hierarchical Louvain with CONVERGED move phases: each level runs
    * [[moveUntilConverged]] (modularity-stable down+up pair or
    * `roundCap`), then contracts and continues on the condensation —
    * the standard production termination (Blondel et al. 2008 iterate
    * "while gain") instead of [[run]]'s fixed round count. The
    * hierarchy stops early when a level improves nothing (further
    * contraction is a fixpoint). Returns the ORIGINAL-vertex labels
    * lifted through every level plus the per-level trace. */
  def runConverged(edges: DataFrame, levels: Int, roundCap: Int = 10)
      : (DataFrame, Seq[LevelTrace]) = {
    var wedges = edges.select(col("src"), col("dst"), lit(1L).as("w"))
      .transform(graft.util.Ckpt.lean)
    val m2 = bothWays(wedges).agg(sum("w")).first().getLong(0)
    def micros(q: java.math.BigDecimal): Long =
      math.floor(q.doubleValue() / (m2.toDouble * m2.toDouble) * 1e6
        + 0.5).toLong
    var lifted: DataFrame = null
    val trace = scala.collection.mutable.ArrayBuffer[LevelTrace]()
    var lv = 0
    var fixpoint = false
    var prevQ: java.math.BigDecimal = null
    while (lv < levels && !fixpoint) {
      lv += 1
      val (lab, r, moved, q) = moveUntilConverged(wedges, roundCap)
      trace += LevelTrace(lv, r, moved,
        lab.select("lab").distinct().count(), micros(q))
      lifted =
        if (lifted == null) lab
        else lifted.select(col("id"), col("lab").as("mid"))
          .join(lab.select(col("id").as("mid"), col("lab")), "mid")
          .drop("mid").transform(graft.util.Ckpt.lean)
      fixpoint = moved == 0L ||
        (prevQ != null && q.compareTo(prevQ) == 0)
      prevQ = q
      if (lv < levels && !fixpoint)
        wedges = coarsenWeighted(wedges, lab).transform(graft.util.Ckpt.lean)
    }
    (lifted, trace.toSeq)
  }

  /** `rounds` synchronized move rounds from singleton communities,
    * alternating down/up (odd rounds move down). Each generation is a
    * lazy localCheckpoint: a round references the previous labels four
    * times (totals, neighbor counts, candidates, current), so an un-cut
    * lineage re-executes every earlier round 4× per reference —
    * exponential in round count (the q228 A/B: 19.0 s lazy-chained vs
    * 4.1 s checkpointed at sf0.1 for two rounds). Round-invariants
    * (e2, degrees, 2W) are computed once against the checkpointed e2,
    * never the caller's edge expression. */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    // checkpoint the source once: bothWays references its input twice
    // (the two union branches), which would re-run an expensive caller
    // edge derivation per branch
    val we = edges.select(col("src"), col("dst"), lit(1L).as("w"))
      .transform(graft.util.Ckpt.lean)
    val e2 = bothWays(we).transform(graft.util.Ckpt.lean)
    val deg = e2.select(col("src").as("id"), col("w"))
      .groupBy("id").agg(sum("w").as("k"))
      .transform(graft.util.Ckpt.lean)
    val m2 = deg.agg(sum("k").as("m2"))
    var lab = deg.select(col("id"), col("id").as("lab"))
    for (r <- 1 to rounds)
      lab = core(e2, deg, m2, lab, allowUp = r % 2 == 0)
        .transform(graft.util.Ckpt.lean)
    lab
  }
}
