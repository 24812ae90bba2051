package graft.graph

import graft.util.Ckpt
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank with dead-end (dangling) mass redistribution and
  * sum-of-absolute-differences convergence — the reference semantics of
  * uSearch's BSP implementation (`pagerank/compute.go:24-103`: damped
  * formula `(1-d)/N + d·Σmsgs + d·residual` where the residual is the
  * dangling-vertex mass spread over all N vertices; convergence when
  * `SAD < tol` — `pagerank/calculator.go:99-111`). Scores sum to 1.
  *
  * NOT GraphX's built-in PageRank: that variant neither redistributes
  * dead-end mass nor normalizes to Σ=1.
  *
  * Pure-DataFrame loop, designed distributed-first:
  *  - edges + out-degrees are computed once and persisted; when more
  *    than one superstep reads them, their join is laid out by `src`
  *    over `GraphUtil.partitionLaw` of the plan's edge-count estimate
  *    (no counting job) and persisted too;
  *  - each superstep is one shuffle: contributions grouped by dst
  *    (map-side partial aggregation applies);
  *  - the dangling-mass scalar is a 1-row aggregate folded into the
  *    superstep's own plan via a broadcast cross join, and so are the
  *    vertex count and the seed-set size in the init plan: no count
  *    runs as an action of its own, and none is inlined into generated
  *    code as a literal;
  *  - the only driver-side value is the SAD scalar (one action), taken
  *    only where it can stop the loop: with a tolerance, after
  *    iterations 1 to maxIter − 2. With `stopTol = None` there is no
  *    per-iteration SAD action;
  *  - every generation is a `Ckpt.Generation` (under AQE, building one
  *    runs its shuffle stages, so a run is not job-free while it is
  *    built), so each step reads the previous step's stored scores, the
  *    plan never nests earlier generations and long runs don't blow the
  *    plan stack. A generation's lineage is cut once the next one is
  *    built, on the caller's thread: a lazy `localCheckpoint` could be
  *    cut by a broadcast job's thread and deadlock the DAG scheduler.
  *
  * `gridSnap = Some(g)` snaps every score to the 1/g grid each iteration
  * (`floor(x·g + 0.5)/g`) making results bit-reproducible across engines
  * (used by the DuckDB oracle; harmless 1e-9 perturbation otherwise).
  */
object PageRank {

  /** `sad`: Σ|score − prev| of the last generation, the value the stop
    * rule compares with `stopTol` (`Double.MaxValue` without a
    * tolerance or iteration). A run that stopped early computed it to
    * decide; otherwise it is computed from the final generation the
    * first time it is read (one action), so a caller that never reads
    * it pays nothing. */
  final class Result(val scores: DataFrame, val iterations: Int,
                     sadOf: => Double) {
    lazy val sad: Double = sadOf
  }

  /** `seeds`: personalized/topic-sensitive PageRank (Haveliwala 2002,
    * "Topic-Sensitive PageRank"): the (1−d) teleport AND the dangling
    * mass go uniformly to the seed set instead of all N vertices —
    * reset weight r(v) = 1/|S| on seeds, 0 elsewhere; the iteration
    * starts from r and stays a probability distribution (Σ = 1). The
    * seed set is resolved once (one V-sized broadcast-ish join at init,
    * the weight then rides the generations like the dangling flag);
    * per-superstep cost is identical to the uniform run.
    *
    * `weightCol`: WEIGHTED PageRank — a vertex's mass splits over its
    * out-edges proportionally to the (positive integer) edge weight
    * instead of uniformly: contribution = score·w/Σw_out. Out-weight
    * sums are exact integer arithmetic (cross-engine stable); the
    * per-edge fraction is one IEEE divide. Non-positive weights are
    * dropped (a zero-weight edge would make its source non-dangling
    * while contributing no mass — a probability leak). Superstep cost
    * and plan shape are identical to the uniform run. */
  def run(vertices: DataFrame, edges: DataFrame,
          damping: Double = 0.85,
          maxIter: Int = 20,
          stopTol: Option[Double] = Some(1e-3),
          gridSnap: Option[Double] = None,
          seeds: Option[DataFrame] = None,
          weightCol: Option[String] = None,
          initScores: Option[DataFrame] = None): Result = {

    def snap(c: Column): Column =
      gridSnap.map(g => floor(c * g + 0.5) / g).getOrElse(c)

    val v = vertices.select(col("id")).persist(StorageLevel.MEMORY_AND_DISK)
    // The caller's edge subtree (typically a scan + distinct) feeds both
    // out-degrees and the join table — persist it ONCE or Spark
    // re-executes the identical subtree per reference.
    val e0 = (weightCol match {
      case Some(w) => edges.select(col("src"), col("dst"),
          col(w).cast("long").as("w"))
        .filter(col("w") > 0)
      case None => edges.select(col("src"), col("dst"))
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val outDeg = (weightCol match {
      // exact integer out-weight sum, cast once — no float-sum wobble
      case Some(_) => e0.groupBy("src").agg(sum("w").cast("double").as("od"))
      case None => e0.groupBy("src").agg(count(lit(1)).cast("double").as("od"))
    }).persist(StorageLevel.MEMORY_AND_DISK)
    // out-degree is static — join it into the edge table ONCE, so each
    // superstep pays a single shuffle (scores⋈edges), not two; and
    // hash-partition + SORT the result by the join key: the cached
    // layout (InMemoryRelation preserves both the partitioning and the
    // ordering of the cached plan) lets each superstep shuffle + sort
    // only the V-sized score frame — the E-sized edge table is never
    // re-shuffled NOR re-sorted by the per-superstep sort-merge join.
    // Partition-count law (GraphUtil.partitionLaw): ~128k edges per
    // partition, floored at 4 and capped at the cluster's parallelism,
    // over the edge count the plan estimates (no counting job).
    // Superstep stages inherit this count (the cached layout fixes it
    // for the co-partitioned join), so at small scale the loop doesn't
    // pay scheduler + codegen-init overhead for dozens of near-empty
    // tasks, and at scale it grows to the cluster width. A run of one
    // superstep (the crawl cycle's warm re-rank) has no later superstep
    // to re-read the layout, so it joins the edges where they are
    // instead of paying for a cache build.
    val withDeg = e0.join(outDeg, Seq("src"))
    val e = if (maxIter <= 1) withDeg else withDeg
      .repartition(GraphUtil.partitionLaw(GraphUtil.estimatedRows(e0),
        e0.sparkSession), col("src"))
      .sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Personalized reset: resolve the seed set once; the per-vertex
    // reset weight rides the generations (like the dangling flag) so
    // no per-superstep join is added. The uniform run carries the
    // vertex count `n` instead: both come from a one-row aggregate
    // cross-joined into the init plan, never from a driver action, so
    // no count is inlined as a literal (the generated classes stay the
    // same as the graph grows).
    val seedSet = seeds.map(_.select(col("id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    val carry = if (seedSet.isDefined) Seq("dang", "rw") else Seq("dang", "n")

    // The dangling-vertex SET is static (it depends only on graph
    // shape), so resolve it once at init and carry it as a boolean
    // through the generations: the per-superstep dangling mass becomes
    // a filter + aggregate over the frame each superstep materializes
    // anyway — no per-superstep anti-join.
    val init00 = v
      .join(outDeg.select(col("src").as("id"), lit(true).as("hasOut")),
        Seq("id"), "left")
    // Warm start (incremental re-rank): resume the SAME power iteration
    // from previously-stored scores — running k iterations from an
    // m-iteration snapshot reproduces the cold (m+k)-iteration
    // trajectory exactly (snapping included), which is what makes the
    // crawl cycle's "re-rank after incremental updates" cheap and
    // oracle-checkable (q201). Vertices absent from the snapshot (newly
    // crawled) fall back to the cold-start value.
    val init0 = initScores match {
      case Some(is) => init00.join(
        is.select(col("id"), col("score").as("__s0")), Seq("id"), "left")
      case None => init00.withColumn("__s0", lit(null).cast("double"))
    }
    var stored = Ckpt.generation(seedSet match {
      case Some(s) =>
        init0.join(s.select(col("id"), lit(true).as("isSeed")),
            Seq("id"), "left")
          .crossJoin(s.agg(count(lit(1)).cast("double").as("__ns")))
          .withColumn("rw",
            when(col("isSeed"), lit(1.0) / col("__ns")).otherwise(lit(0.0)))
          .select(col("id"),
            snap(coalesce(col("__s0"), col("rw"))).as("score"),
            col("hasOut").isNull.as("dang"), col("rw"))
      case None =>
        init0.crossJoin(v.agg(count(lit(1)).cast("double").as("n")))
          .select(col("id"),
            snap(coalesce(col("__s0"), lit(1.0) / col("n"))).as("score"),
            col("hasOut").isNull.as("dang"), col("n"))
    })
    var scores = stored.frame
    var iter = 0
    var sad = Double.MaxValue
    var done = false
    var last: Option[DataFrame] = None

    while (iter < maxIter && !done) {
      // Σ over in-edges of score(src)/outdeg(src) — one shuffle keyed by
      // dst. Project down to (src, score) first: the carried columns
      // have no business traveling through the E-sized join.
      val contribs = e
        .join(scores.select(col("id").as("src"), col("score")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(
          if (weightCol.isDefined)
            col("score") * col("w").cast("double") / col("od")
          else col("score") / col("od")).as("contrib"))

      // Dangling mass: total score on the static dangling set — a 1-row
      // frame cross-joined into the plan (no driver collect, no join).
      val dangling = scores.filter(col("dang"))
        .agg(coalesce(sum("score"), lit(0.0)).as("dm"))

      // The id universe never changes, so the new generation grows from
      // the previous one (not from v) and carries the previous score
      // along: SAD becomes a pure aggregate over the frame this
      // iteration materializes anyway — no extra join per iteration.
      val next0 = scores
        .select(col("id") +: col("score").as("prev") +: carry.map(col): _*)
        .join(contribs, Seq("id"), "left")
        .crossJoin(dangling)
        .withColumn("score", snap(
          if (seedSet.isDefined)
            lit(1.0 - damping) * col("rw") +
              lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
                col("dm") * col("rw"))
          else
            lit(1.0 - damping) / col("n") +
              lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
                col("dm") / col("n"))))
        .select(col("id") +: col("prev") +: col("score") +: carry.map(col): _*)

      // An RDD leaf over the stored generation: truncates the logical
      // plan (which would otherwise nest the previous generation 2x per
      // step and grow exponentially) without forcing the last stage.
      // Building it ran the stages that read the previous generation,
      // so that one is fully stored and its lineage is cut here.
      val next = Ckpt.generation(next0)
      stored.truncate()
      stored = next

      // The SAD action runs only where it can stop the loop: iteration
      // 0 never stops it, and after the last one the loop ends anyway.
      if (stopTol.isDefined && iter > 0 && iter < maxIter - 1) {
        sad = sadOf(next.frame)
        done = sad < stopTol.get
      }
      last = Some(next.frame)
      scores = next.frame
        .select(col("id") +: col("score") +: carry.map(col): _*)
      iter += 1
    }
    val stopped = if (done) Some(sad) else None
    val gen = last.filter(_ => stopTol.isDefined)
    new Result(scores.select("id", "score"), iter,
      stopped.orElse(gen.map(sadOf)).getOrElse(Double.MaxValue))
  }

  /** Σ|score − prev| of a generation (0 for an empty graph): one
    * action. */
  private def sadOf(gen: DataFrame): Double =
    gen.agg(coalesce(sum(abs(col("score") - col("prev"))), lit(0.0)))
      .first().getDouble(0)
}
