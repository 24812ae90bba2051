package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks: algebraic laws of core primitives validated
  * against independent in-test reference implementations on
  * scalacheck-generated cases (fixed seed — deterministic, CI-stable).
  * One Spark pass per law, not one per case.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def cases[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Gen.listOfN(n, g)
      .apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("generator exhausted"))

  test("zValue2 equals reference bit interleave on generated pairs") {
    def spread(x: Long): Long = {
      var v = x & 0x7FFFFFFFL
      v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
      v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v << 2)) & 0x3333333333333333L
      v = (v | (v << 1)) & 0x5555555555555555L
      v
    }
    val g = Gen.zip(Gen.chooseNum(0L, 2147483647L),
      Gen.chooseNum(0L, 2147483647L))
    val xs = cases(g, 300, 7L)
    val got = xs.toDF("x", "y")
      .select(store.Layout.zValue2(col("x"), col("y")).as("z"))
      .as[Long].collect()
    val want = xs.map { case (x, y) => spread(x) | (spread(y) << 1) }
    assert(got.toSeq === want)
    // monotone per dimension: fixing y, larger x ⇒ larger z
    val sortedX = xs.map(_._1).distinct.sorted
    val fixedY = 12345L
    val zs = sortedX.map(x => spread(x) | (spread(fixedY) << 1))
    assert(zs === zs.sorted)
  }

  test("Exact.cents/micros equal the floor(x·s + 0.5) reference and " +
    "are monotone") {
    val g = Gen.chooseNum(-100000.0, 100000.0)
    val xs = cases(g, 300, 11L)
    val got = xs.toDF("v")
      .select(util.Exact.cents(col("v")).as("c"),
        util.Exact.micros(col("v")).as("m"))
      .as[(Long, Long)].collect()
    xs.zip(got).foreach { case (v, (c, m)) =>
      assert(c === math.floor(v * 100d + 0.5d).toLong)
      assert(m === math.floor(v * 1000000d + 0.5d).toLong)
    }
    val sorted = xs.sorted.zip(got.toSeq.sortBy(_._1))
    sorted.sliding(2).foreach {
      case Seq((a, _), (b, _)) => assert(a <= b)
      case _ => ()
    }
  }

  test("coveredDuration matches a reference sweep on random interval " +
    "multisets and obeys its bounds") {
    def reference(iv: Seq[(Long, Long)]): Long = {
      val sorted = iv.filter(i => i._2 > i._1).sortBy(_._1)
      var covered = 0L; var curLo = 0L; var curHi = 0L; var open = false
      for ((lo, hi) <- sorted) {
        if (!open) { curLo = lo; curHi = hi; open = true }
        else if (lo > curHi) { covered += curHi - curLo; curLo = lo; curHi = hi }
        else curHi = math.max(curHi, hi)
      }
      if (open) covered += curHi - curLo
      covered
    }
    val gIv = for {
      lo <- Gen.chooseNum(0L, 1000L)
      len <- Gen.chooseNum(0L, 200L)
    } yield (lo, lo + len)
    val gKey = Gen.chooseNum(0, 19)
    val rows = cases(Gen.zip(gKey, gIv), 400, 13L)
      .map { case (k, (lo, hi)) => (s"k$k", lo, hi) }
    val got = operators.TimeSeries.coveredDuration(
        rows.toDF("k", "t0", "t1"), Seq("k"), "t0", "t1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (k, ivs) =>
      val expect = reference(ivs.map(t => (t._2, t._3)))
      assert(got(k) === expect, s"key $k")
      val lens = ivs.map(t => t._3 - t._2)
      assert(got(k) <= lens.sum && got(k) >= (lens :+ 0L).max)
    }
  }

  test("temporal reach is a subset of plain reach and matches a " +
    "reference relaxation on random temporal graphs") {
    def reference(edges: Seq[(Long, Long, Long)],
                  seeds: Map[Long, Long], rounds: Int): Map[Long, Long] = {
      var arr = seeds
      for (_ <- 1 to rounds) {
        val msgs = edges.flatMap { case (s, d, t) =>
          arr.get(s).filter(t >= _).map(_ => d -> t)
        }.groupBy(_._1).map { case (d, ts) => d -> ts.map(_._2).min }
        arr = (arr.keySet ++ msgs.keySet).map { id =>
          id -> math.min(arr.getOrElse(id, Long.MaxValue),
            msgs.getOrElse(id, Long.MaxValue))
        }.toMap
      }
      arr
    }
    val gEdge = for {
      s <- Gen.chooseNum(0L, 30L); off <- Gen.chooseNum(1L, 30L)
      t <- Gen.chooseNum(0L, 50L)
    } yield (s, (s + off) % 31, t) // total generator, s != dst by shape
    val edges = cases(gEdge, 120, 17L)
    val seeds = Map(0L -> 0L, 7L -> 10L)
    val got = graph.TemporalReach.earliestArrival(
        edges.toDF("src", "dst", "ts"),
        seeds.toSeq.toDF("id", "arr"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === reference(edges, seeds, 3))
    // time-respecting reach never exceeds timestamp-blind reach
    val blind = reference(edges.map { case (s, d, _) => (s, d, Long.MaxValue) }
      .map(e => (e._1, e._2, 0L)), seeds.map { case (k, _) => k -> 0L }, 3)
    assert(got.keySet.subsetOf(blind.keySet))
  }

  test("groupedAuc laws on generated data: bounds, label-flip " +
    "antisymmetry, rank-sum reference") {
    val g = Gen.zip(Gen.chooseNum(0L, 40L), Gen.oneOf(0L, 1L))
    val rows = cases(g, 240, 23L).zipWithIndex
      .map { case ((s, y), i) => (s"g${i % 4}", s, y) }
    // each group must carry both classes for AUC to be defined
    val padded = rows ++ Seq(("g0", 0L, 0L), ("g0", 1L, 1L),
      ("g1", 0L, 0L), ("g1", 1L, 1L), ("g2", 0L, 0L), ("g2", 1L, 1L),
      ("g3", 0L, 0L), ("g3", 1L, 1L))
    val df = padded.toDF("g", "score", "y")
    val auc = ml.Eval.groupedAuc(df, "g", "score", "y")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // reference: tie-corrected pairwise comparison, O(n²) in-test
    def ref(gr: String): Long = {
      val xs = padded.filter(_._1 == gr)
      val pos = xs.filter(_._3 == 1L).map(_._2)
      val neg = xs.filter(_._3 == 0L).map(_._2)
      val wins = (for (p <- pos; n <- neg)
        yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
      math.floor(wins / (pos.size.toDouble * neg.size) * 1e6 + 0.5).toLong
    }
    (0 until 4).map(i => s"g$i").foreach { gr =>
      assert(auc(gr) === ref(gr), gr)
      assert(auc(gr) >= 0L && auc(gr) <= 1000000L)
    }
    // flipping the labels reflects AUC around 1/2 (up to the snap)
    val flipped = ml.Eval.groupedAuc(
        df.select(col("g"), col("score"), (lit(1L) - col("y")).as("y")),
        "g", "score", "y")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 until 4).map(i => s"g$i").foreach { gr =>
      assert(math.abs(auc(gr) + flipped(gr) - 1000000L) <= 1L, gr)
    }
  }

  test("temperatureAllocation laws: budget conservation, tau=1 " +
    "matches Hamilton on raw counts, tau=0 near-uniform") {
    val g = Gen.chooseNum(1, 60)
    val sizes = cases(g, 12, 31L)
    val rows = sizes.zipWithIndex.flatMap { case (n, i) =>
      Seq.fill(n)(s"s$i")
    }
    val df = rows.toDF("s")
    def alloc(tau: Double, b: Long): Map[String, Long] =
      operators.Sampling.temperatureAllocation(df, col("s"), b, tau)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    Seq(0.0, 0.5, 1.0).foreach { t =>
      val a = alloc(t, 997L)
      assert(a.values.sum === 997L, s"tau=$t")
      assert(a.values.forall(_ >= 0L))
    }
    // tau=1: exact Hamilton apportionment of the raw counts
    def hamilton(counts: Seq[(String, Long)], b: Long): Map[String, Long] = {
      val tot = counts.map(_._2).sum
      val base = counts.map { case (s, n) => (s, b * n / tot, b * n % tot) }
      val left = b - base.map(_._2).sum
      val bump = base.sortBy { case (s, _, r) => (-r, s) }
        .take(left.toInt).map(_._1).toSet
      base.map { case (s, q, _) =>
        s -> (q + (if (bump(s)) 1L else 0L))
      }.toMap
    }
    val counts = sizes.zipWithIndex.map { case (n, i) => s"s$i" -> n.toLong }
    // micros(n^1.0) = n·1e6 exactly, so the scaled quotas reduce
    assert(alloc(1.0, 997L) === hamilton(counts, 997L))
    // tau=0: every stratum within 1 of budget/k
    val u = alloc(0.0, 997L)
    val per = 997.0 / sizes.size
    u.values.foreach(v => assert(math.abs(v - per) <= 1.0))
  }

  test("gopherRules: keep is exactly the conjunction of its rule flags") {
    val texts = cases(Gen.listOfN(25, Gen.oneOf(
        "the", "a", "of", "lorem", "ipsum", "ab", "x" * 12, "##",
        "12345", "word")), 40, 41L)
      .zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val out = text.Quality.gopherRules(texts.toDF("doc_id", "text"))
      .collect()
    out.foreach { r =>
      val flags = Seq("r_count", "r_meanlen", "r_alpha", "r_symbol",
        "r_stop").map(r.getAs[Int])
      assert(flags.forall(f => f == 0 || f == 1))
      assert(r.getAs[Int]("keep") === flags.product)
    }
  }

  // ids at the long extremes: a tie-break offset computed in LONG
  // arithmetic wraps (or overflows under ANSI) on every negative one
  private val extremeIds = Seq(Long.MinValue, -1L, 0L, Long.MaxValue)

  /** (score desc, label asc) winner — the max(struct(score, -label))
    * order, negated exactly (BigInt: -Long.MinValue does not wrap). */
  private def refArgmax(rows: Seq[(Long, Long)]): Long =
    rows.maxBy { case (score, lab) => (score, -BigInt(lab)) }._2

  test("packed argmax elects the struct-order winner for extreme labels") {
    val g = Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(-3L, 3L),
      Gen.oneOf(extremeIds))
    val rows = cases(g, 400, 53L)
    val got = graph.GraphUtil.argmaxLabel(rows.toDF("k", "score", "lab"),
      "k", col("score"), col("lab"), "lab")
      .as[(Long, Long)].collect().toMap
    val want = rows.groupBy(_._1).map { case (k, rs) =>
      k -> refArgmax(rs.map(r => (r._2, r._3))) }
    assert(got === want)
  }

  test("label propagation elects by votes then smallest label at long extremes") {
    val pairs = for (a <- extremeIds; b <- extremeIds if a < b) yield (a, b)
    val graphs = cases(Gen.someOf(pairs).map(_.toSeq), 12, 59L)
      .filter(_.nonEmpty)
    assert(graphs.size >= 6)
    graphs.foreach { es =>
      val und = (es ++ es.map(_.swap)).distinct
      // one synchronous round from lab = id: neighbours' labels + self
      val want = und.map(_._1).distinct.map { v =>
        val votes = und.filter(_._2 == v).map(_._1) :+ v
        v -> refArgmax(votes.groupBy(identity).toSeq
          .map { case (lab, vs) => (vs.size.toLong, lab) })
      }.toMap
      val got = graph.Communities.labelPropagation(es.toDF("src", "dst"), 1)
        .as[(Long, Long)].collect().toMap
      assert(got === want, s"edges $es")
    }
  }
}
