package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components by forward-coloring + backward
  * containment (Orzan 2004; the FW-BW family used by every distributed
  * SCC system — the reference's link graph is analyzed only as an
  * undirected/forward structure, so this completes the directed side of
  * its graph toolbox next to PageRank/components/coloring).
  *
  * Outer round:
  *  1. **Color**: propagate the max vertex id FORWARD to fixpoint —
  *     color(v) = max id over ancestors-or-self. Delta-frontier (only
  *     labels that changed travel, exactly the [[Components]] argument:
  *     a max that settled earlier already reached everyone downstream).
  *  2. **Roots**: v with color(v) = v. No larger id reaches a root, so
  *     a root is the MAX member of its own SCC — which makes the final
  *     label engine-portable (no iteration-order dependence).
  *  3. **Contain**: walk BACKWARD from each root along edges whose tail
  *     shares the root's color. Everything reached both reaches the
  *     root (backward walk) and is reached by it (same color ⇒ forward
  *     path from the root... the root is the max ancestor), i.e. is in
  *     the root's SCC — the Orzan containment argument.
  *  4. Extract those vertices, drop their incident edges, repeat on the
  *     residue.
  *
  * Every round extracts at least the global-max remaining vertex's SCC;
  * random id-to-topology mixes converge in O(log V) outer rounds (each
  * round removes every current prefix-maximum simultaneously).
  *
  * Scale shape: steps 1 and 3 are fixpoints on the [[Iterate]] kernel
  * (one checkpointed generation and one empty-frontier probe per
  * round); each round is ONE keyed shuffle over the LIVE subgraph
  * (edges of extracted SCCs are physically removed per outer round, so
  * late rounds touch only the shrinking residue). The driver sees only
  * empty-frontier probes (bounded counts, never data). Labels are
  * exact BIGINTs end-to-end — the DuckDB oracle is a transitive-closure
  * pair test, no floats anywhere.
  */
object Scc {

  /** edges: (src, dst) long ids, directed. Self-loops are ignored for
    * connectivity but their endpoints still receive a label. Returns
    * (id, scc) where scc = max member id of the vertex's SCC. */
  def run(edges: DataFrame, maxOuterRounds: Int = 40,
          maxInnerRounds: Int = 200): DataFrame = {
    // Checkpointed: verts, the layout gate's count and the edge layouts
    // all descend from this distinct — without the checkpoint each one
    // re-executes it (Spark doesn't dedupe common subtrees).
    val clean = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
      .localCheckpoint(false)
    var verts = clean.select(col("src").as("id"))
      .union(clean.select(col("dst").as("id")))
      .distinct().localCheckpoint(false)
    // Two stored layouts of the (per-outer-round static) residue edge
    // table — forward coloring joins on src every inner round, the
    // backward containment walk on dst: two layout shuffles per peel
    // buy zero edge shuffles across ALL inner rounds (the Components/
    // Communities layout law, keyed per direction). Gated on edge
    // count: below ~200k edges the two extra per-peel stages cost more
    // than the tiny per-round exchanges they delete (measured +0.7 s on
    // q121's 600-vertex quotient graph vs −25% at the 5M-edge canary) —
    // the count is one cheap job in an operator already full of
    // per-round driver probes.
    val loops = clean.filter(col("src") =!= col("dst"))
    val useLayout = loops.count() >= 200000L
    def layout(df: DataFrame, key: String): DataFrame =
      if (useLayout)
        df.repartition(col(key)).sortWithinPartitions(key)
          .localCheckpoint(false)
      else df.localCheckpoint(false)
    var eSrc = layout(loops, "src")
    var eDst = if (useLayout) layout(eSrc, "dst") else eSrc

    var result: DataFrame = null
    var outer = 0
    while (verts.limit(1).count() > 0) {
      require(outer < maxOuterRounds,
        s"SCC did not finish in $maxOuterRounds outer rounds")
      // -- 1. forward max-color fixpoint (delta frontier) --------------
      val fw = Iterate.run(
        verts.withColumn("color", col("id")).localCheckpoint(false),
        sendMsg = frontier => frontier
          .join(eSrc.withColumnRenamed("src", "id"), Seq("id"))
          .select(col("dst").as("id"), col("color").as("cand")),
        mergeMsg = _.groupBy("id").agg(max("cand").as("cand")),
        vprog = (colors, msgs) => colors.join(msgs, Seq("id"), "left")
          .select(col("id"),
            greatest(col("color"), coalesce(col("cand"), col("color")))
              .as("color"),
            coalesce(col("cand") > col("color"), lit(false)).as("changed")),
        maxRounds = maxInnerRounds)
      require(fw.converged,
        s"SCC forward coloring did not converge in $maxInnerRounds rounds")
      val colors = fw.state

      // -- 2+3. backward containment walk from the roots ---------------
      // reached rows are (id, scc); a root's scc is itself. Each round
      // keeps the reached set and adds the newly reached tails.
      val bw = Iterate.run(
        colors.filter(col("color") === col("id"))
          .select(col("id"), col("id").as("scc"))
          .localCheckpoint(false),
        sendMsg = frontier => frontier
          .join(eDst.withColumnRenamed("dst", "id"), Seq("id"))
          .select(col("src").as("id"), col("scc"))
          // only tails INSIDE the root's color class belong to the SCC
          .join(colors, Seq("id"))
          .filter(col("color") === col("scc"))
          .select("id", "scc"),
        mergeMsg = _.distinct(),
        vprog = (reached, cand) => reached.withColumn("changed", lit(false))
          .union(cand.join(reached.select("id"), Seq("id"), "left_anti")
            .withColumn("changed", lit(true))),
        maxRounds = maxInnerRounds)
      require(bw.converged,
        s"SCC backward walk did not converge in $maxInnerRounds rounds")
      val reached = bw.state

      result = if (result == null) reached else result.union(reached)
      // -- 4. peel the extracted SCCs out of the residue ---------------
      verts = verts.join(reached.select("id"), Seq("id"), "left_anti")
        .localCheckpoint(false)
      val gone = reached.select("id")
      eSrc = layout(eSrc
        .join(gone.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(gone.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
        .select("src", "dst"), "src")
      eDst = if (useLayout) layout(eSrc, "dst") else eSrc
      outer += 1
    }
    result
  }

  /** Warm-start (incremental) SCC: relabel a GROWN graph from a prior
    * converged `snapshot` (id, scc) without re-propagating inside
    * settled components — the q201/q205 ingest posture for the directed
    * side of the graph toolbox.
    *
    * Why not resume the forward colors directly (the Components.resume
    * shape): max-color propagation is only monotone WITHIN one peel
    * round, and a delta edge can merge SCCs that the cold run extracted
    * in different outer rounds — colors from peel k say nothing about
    * peel k+1's residue, so a direct color resume is unsound across the
    * peel boundary. Instead the graph is CONDENSED by the old labels:
    * quotient nodes are old SCC labels, quotient edges every
    * (label(u), label(v)) pair induced by the NEW edge set — the old
    * condensation plus the mapped delta, so the caller never has to
    * identify the delta explicitly. Contracting a strongly connected
    * subgraph preserves strong connectivity in both directions, so SCCs
    * of the new graph correspond 1:1 to SCCs of this quotient; and
    * because each old label is the MAX member id of its SCC, the max
    * quotient label of a merged group IS the max vertex id of the
    * merged SCC — bit-identical to the cold run's labeling. Vertices
    * new since the snapshot enter as their own (identity) labels.
    *
    * Cost shape: one label-join pass over the edge table (map-shaped,
    * co-partitionable, no iteration) + a full FW-BW run on the
    * CONDENSATION-sized quotient. At 100 TB the iterative work tracks
    * the condensation (≪ V for any graph worth condensing), never the
    * corpus. */
  def resume(edges: DataFrame, snapshot: DataFrame,
             maxOuterRounds: Int = 40,
             maxInnerRounds: Int = 200): DataFrame = {
    val clean = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
      .localCheckpoint(false)
    val ids = clean.select(col("src").as("id"))
      .union(clean.select(col("dst").as("id")))
      .distinct()
    val labels = ids.join(snapshot, Seq("id"), "left")
      .select(col("id"), coalesce(col("scc"), col("id")).as("label"))
      .localCheckpoint(false)
    val quotient = clean
      .join(labels.select(col("id").as("src"), col("label").as("qsrc")),
        Seq("src"))
      .join(labels.select(col("id").as("dst"), col("label").as("qdst")),
        Seq("dst"))
      .select(col("qsrc").as("src"), col("qdst").as("dst"))
      .distinct()
    val merged =
      if (quotient.limit(1).count() == 0)
        labels.select(col("label").as("qid"), col("label").as("qscc"))
          .limit(0)
      else run(quotient, maxOuterRounds, maxInnerRounds)
        .select(col("id").as("qid"), col("scc").as("qscc"))
    labels.join(merged, col("label") === col("qid"), "left")
      .select(col("id"), coalesce(col("qscc"), col("label")).as("scc"))
  }
}
