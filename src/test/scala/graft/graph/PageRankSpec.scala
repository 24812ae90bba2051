package graft.graph

import graft.{BuildJobs, SparkSpec}
import graft.api.Engine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden PageRank semantics transcribed from the reference's
  * conformance suite (`pagerank/calculator_test.go:35-139,174-195`):
  * per-vertex scores within ±0.01 of the analytic expectation and
  * Σ scores ≈ 1 — including the dead-end mass redistribution that
  * GraphX's built-in variant lacks. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(vs: Seq[String], es: Seq[(String, String)],
                    iters: Int = 50): Map[String, Double] = {
    val r = PageRank.run(vs.toDF("id"),
      es.toDF("src", "dst"), maxIter = iters, stopTol = Some(1e-6))
    r.scores.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
  }

  test("two isolated vertices split the mass evenly") {
    val m = ranks(Seq("a", "b"), Seq.empty)
    assert(math.abs(m("a") - 0.5) < 0.01)
    assert(math.abs(m("b") - 0.5) < 0.01)
    assert(math.abs(m.values.sum - 1.0) < 0.001)
  }

  test("star a->b, a->c: leaves share the fed mass equally") {
    val m = ranks(Seq("a", "b", "c"), Seq("a" -> "b", "a" -> "c"))
    assert(m("b") === m("c"))
    assert(m("b") > m("a"))
    assert(math.abs(m.values.sum - 1.0) < 0.001)
  }

  test("cycle a->b->c->a converges to uniform") {
    val m = ranks(Seq("a", "b", "c"),
      Seq("a" -> "b", "b" -> "c", "c" -> "a"))
    Seq("a", "b", "c").foreach(v =>
      assert(math.abs(m(v) - 1.0 / 3) < 0.01, s"vertex $v -> ${m(v)}"))
    assert(math.abs(m.values.sum - 1.0) < 0.001)
  }

  test("dead-end sink: mass redistributed, sum still 1") {
    // a->c, b->c; c dangling. Without redistribution Σ < 1.
    val m = ranks(Seq("a", "b", "c"), Seq("a" -> "c", "b" -> "c"))
    assert(math.abs(m.values.sum - 1.0) < 0.001)
    assert(m("c") > m("a"))
    assert(m("a") === m("b"))
  }

  test("stopTol path is score-identical to the lazy fixed-iteration path") {
    // Guards the SAD-tracking branch (one first() per step): early-exit
    // must change WHEN the loop stops, never WHAT a step computes. Run
    // tracked to convergence, then re-run untracked for the same number
    // of iterations — bit-identical scores (same grid snap).
    val vs = Seq("a", "b", "c", "d").toDF("id")
    val es = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "d")
      .toDF("src", "dst")
    val tracked = PageRank.run(vs, es, maxIter = 100,
      stopTol = Some(1e-9), gridSnap = Some(1e9))
    assert(tracked.iterations < 100) // actually early-exited
    val lazyRun = PageRank.run(vs, es, maxIter = tracked.iterations,
      stopTol = None, gridSnap = Some(1e9))
    val t = tracked.scores.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val l = lazyRun.scores.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(t === l) // exact equality, not approximate
  }

  test("convergence reports SAD below tolerance") {
    val r = PageRank.run(Seq("a", "b", "c").toDF("id"),
      Seq("a" -> "b", "b" -> "c", "c" -> "a").toDF("src", "dst"),
      maxIter = 100, stopTol = Some(1e-6))
    assert(r.sad < 1e-6)
    assert(r.iterations < 100)
  }

  test("personalized: mass concentrates around the seed, Σ still 1") {
    // Two disconnected 2-cycles {a,b} and {c,d}; seed = a. ALL mass must
    // stay in the seed's component (teleport and dangling flow to a);
    // the other component's stationary score is exactly 0.
    val vs = Seq("a", "b", "c", "d").toDF("id")
    val es = Seq("a" -> "b", "b" -> "a", "c" -> "d", "d" -> "c")
      .toDF("src", "dst")
    val r = PageRank.run(vs, es, maxIter = 60, stopTol = Some(1e-9),
      seeds = Some(Seq("a").toDF("id")))
    val m = r.scores.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(m.values.sum - 1.0) < 1e-6)
    assert(m("c") == 0.0 && m("d") == 0.0)
    // a receives the teleport plus b's full out-flow: strictly above b
    assert(m("a") > m("b") && m("b") > 0.1)
  }

  test("personalized: dangling mass teleports to the seeds only") {
    // a -> c with c a sink; seed = a. c's absorbed mass must return to
    // a each step, never leak to b (isolated non-seed).
    val vs = Seq("a", "b", "c").toDF("id")
    val es = Seq("a" -> "c").toDF("src", "dst")
    val r = PageRank.run(vs, es, maxIter = 60, stopTol = Some(1e-9),
      seeds = Some(Seq("a").toDF("id")))
    val m = r.scores.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(m.values.sum - 1.0) < 1e-6)
    assert(m("b") == 0.0)
    assert(m("a") > m("c"))
  }

  test("uniform run is unchanged by the seeds refactor (regression)") {
    val vs = Seq("a", "b", "c").toDF("id")
    val es = Seq("a" -> "b", "b" -> "c").toDF("src", "dst")
    val m = PageRank.run(vs, es, maxIter = 5, stopTol = None,
        gridSnap = Some(1e9)).scores
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(m.values.sum - 1.0) < 1e-6)
    assert(m("c") > m("b") && m("b") > m("a"))
  }

  test("weighted: mass splits by weight; equal weights reduce to uniform") {
    val vs = Seq("a", "b", "c").toDF("id")
    // a feeds b 3x harder than c
    val es = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "w")
    val r = PageRank.run(vs, es, maxIter = 1, stopTol = None,
      weightCol = Some("w"))
    val m = r.scores.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(m.values.sum - 1.0) < 1e-9)
    // after one step: b gets d·(1/3)·(3/4), c gets d·(1/3)·(1/4)
    val base = 0.15 / 3 + 0.85 * (2.0 / 3) / 3 // teleport + dangling b,c
    assert(math.abs(m("b") - (base + 0.85 * (1.0 / 3) * 0.75)) < 1e-9)
    assert(math.abs(m("c") - (base + 0.85 * (1.0 / 3) * 0.25)) < 1e-9)
    // equal weights ≡ unweighted
    val ew = Seq(("a", "b", 5L), ("b", "c", 5L)).toDF("src", "dst", "w")
    val got = PageRank.run(vs, ew, maxIter = 5, stopTol = None,
        gridSnap = Some(1e9), weightCol = Some("w")).scores
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val want = PageRank.run(vs,
        Seq("a" -> "b", "b" -> "c").toDF("src", "dst"),
        maxIter = 5, stopTol = None, gridSnap = Some(1e9)).scores
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(got == want)
  }

  test("weighted: non-positive weights are dropped (no probability leak)") {
    val vs = Seq("a", "b", "c").toDF("id")
    // a's only positive edge is to b; the zero edge to c must not make
    // a split mass with it (and a stays non-dangling via the b edge)
    val es = Seq(("a", "b", 2L), ("a", "c", 0L)).toDF("src", "dst", "w")
    val m = PageRank.run(vs, es, maxIter = 8, stopTol = None,
        weightCol = Some("w")).scores
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(m.values.sum - 1.0) < 1e-9)
    val only = PageRank.run(vs, Seq(("a", "b", 2L)).toDF("src", "dst", "w"),
        maxIter = 8, stopTol = None, weightCol = Some("w")).scores
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(m == only)
  }

  // ---- the parent formulation, transcribed in plain Scala: n from a
  // driver-side count inlined as a literal, the dangling mass a sum over
  // the dangling set, every score snapped to the 1/g grid. The Spark
  // run keeps the same IEEE operations; only its sum order differs,
  // which the 1e-9 grid absorbs.

  private val Grid = 1e9
  private def snapped(x: Double): Double = math.floor(x * Grid + 0.5) / Grid

  private def reference(vs: Seq[String], es: Seq[(String, String, Long)],
                        iters: Int, weighted: Boolean = false,
                        seeds: Set[String] = Set.empty,
                        init: Map[String, Double] = Map.empty,
                        d: Double = 0.85): Map[String, Double] = {
    val live = if (weighted) es.filter(_._3 > 0) else es
    val od = live.groupBy(_._1).map { case (s, out) =>
      s -> (if (weighted) out.map(_._3).sum.toDouble else out.size.toDouble)
    }
    val n = vs.size.toDouble
    val rw = vs.map(v => v ->
      (if (seeds(v)) 1.0 / seeds.size.toDouble else 0.0)).toMap
    var score = vs.map(v => v -> snapped(init.getOrElse(v,
      if (seeds.nonEmpty) rw(v) else 1.0 / n))).toMap
    for (_ <- 1 to iters) {
      val contrib = live.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (s, _, w) =>
          if (weighted) score(s) * w.toDouble / od(s) else score(s) / od(s)
        }.sum
      }
      val dm = vs.filterNot(od.contains).map(score).sum
      score = vs.map { v =>
        val c = contrib.getOrElse(v, 0.0)
        v -> snapped(
          if (seeds.nonEmpty) (1.0 - d) * rw(v) + d * (c + dm * rw(v))
          else (1.0 - d) / n + d * (c + dm / n))
      }.toMap
    }
    score
  }

  private val gv = (0 until 12).map(i => s"v$i")
  // a cycle with chords, two dead ends (v10, v11) and weights 0–3 (the
  // weighted run drops the zero-weight edges, so v6 and v9 dangle there)
  private val ge = (0 until 10).map(i => (s"v$i", s"v${(i + 1) % 10}",
      (i % 3).toLong)) ++
    Seq(("v0", "v10", 2L), ("v3", "v11", 1L), ("v5", "v2", 3L),
      ("v7", "v0", 1L))

  private def scoreMap(df: DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("scores are bit-identical to the parent formulation: cold, warm, " +
      "weighted, personalized") {
    val vs = gv.toDF("id")
    val es = ge.map { case (a, b, w) => (a, b, w) }.toDF("src", "dst", "w")
    val unweighted = ge.map { case (a, b, _) => (a, b, 1L) }
    def run(iters: Int, weighted: Boolean = false,
            seeds: Option[Seq[String]] = None,
            init: Option[DataFrame] = None) =
      scoreMap(PageRank.run(vs, es, maxIter = iters, stopTol = None,
        gridSnap = Some(Grid), seeds = seeds.map(_.toDF("id")),
        weightCol = if (weighted) Some("w") else None,
        initScores = init).scores)
    assert(run(6) == reference(gv, unweighted, 6), "cold")
    // warm start from a partial snapshot: v11 falls back to 1/n
    val snap = reference(gv, unweighted, 3) - "v11"
    assert(run(2, init = Some(snap.toSeq.toDF("id", "score"))) ==
      reference(gv, unweighted, 2, init = snap), "warm")
    assert(run(5, weighted = true) ==
      reference(gv, ge, 5, weighted = true), "weighted")
    assert(run(5, seeds = Some(Seq("v0", "v4"))) ==
      reference(gv, unweighted, 5, seeds = Set("v0", "v4")), "personalized")
  }

  test("a warm one-iteration run's sad is Σ|score − prev| of that " +
      "generation, read lazily") {
    val vs = gv.toDF("id")
    val es = ge.map { case (a, b, _) => (a, b) }.toDF("src", "dst")
    val prev = reference(gv, ge.map { case (a, b, _) => (a, b, 1L) }, 3)
    val r = PageRank.run(vs, es, maxIter = 1, stopTol = Some(1e-3),
      gridSnap = Some(Grid), initScores = Some(prev.toSeq.toDF("id", "score")))
    val got = scoreMap(r.scores)
    assert(r.iterations == 1)
    val want = gv.map(v => math.abs(got(v) - prev(v))).sum
    assert(math.abs(r.sad - want) <= 1e-15, s"sad ${r.sad} vs $want")
    // an untracked run has no SAD to report
    assert(PageRank.run(vs, es, maxIter = 1, stopTol = None).sad ==
      Double.MaxValue)
  }

  test("the edge layout is sized by partitionLaw over the plan's row " +
      "estimate, taken with no job") {
    val par = spark.sparkContext.defaultParallelism
    var est = 0L
    val jobs = BuildJobs.during(spark, "graft.pagerank.estimate") {
      est = GraphUtil.estimatedRows((1L to 1000L).toDF("src"))
    }
    assert(jobs.isEmpty && est == 1000L, s"$est rows, jobs $jobs")
    assert(GraphUtil.partitionLaw(est, spark) == 4)
    assert(GraphUtil.partitionLaw(1000000L, spark) ==
      math.max(4, math.min(par, 8)))
    // an unknown size reads as very large: the cluster's width, with no
    // Int overflow on the way
    assert(GraphUtil.partitionLaw(128000L << 31, spark) == math.max(4, par))
    assert(GraphUtil.partitionLaw(Long.MaxValue, spark) == math.max(4, par))
  }

  test("a warm one-iteration Engine.pageRankPass and the collect of its " +
      "scores run at most 12 Spark jobs") {
    // the crawl cycle's re-rank: a distinct over a stored edge table,
    // vertices as the union of both endpoints, last pass's scores as
    // the warm start
    val root = java.nio.file.Files.createTempDirectory("graft_pr_jobs")
      .toString
    graft.store.Versioned.commitAppend(
      ge.map { case (a, b, _) => (a, b) }.toDF("src", "dst"), root)
    val es = graft.store.Versioned.read(spark, root)
      .select("src", "dst").distinct()
    val vs = es.select(col("src").as("id")).union(es.select(col("dst")))
      .distinct()
    val warm = reference(gv, ge.map { case (a, b, _) => (a, b, 1L) }, 2)
      .toSeq.toDF("id", "score")
    Engine.pageRankPass(vs, es, maxIter = 1, warmStart = Some(warm))
      .scores.collect() // compile the pass's classes outside the count
    var rows = 0
    val jobs = BuildJobs.during(spark, "graft.pagerank.jobs") {
      rows = Engine.pageRankPass(vs, es, maxIter = 1,
        warmStart = Some(warm)).scores.collect().length
    }
    assert(rows == gv.size)
    // no count of the edges or vertices and no SAD action: the jobs
    // are the stages of the two stored generations and the collect
    assert(jobs.size <= 12, s"${jobs.size} jobs: $jobs")
  }
}
