package graft.graph

import graft.SparkSpec

class ShortestPathSpec extends SparkSpec {
  import spark.implicits._

  test("relaxation finds multi-hop minimum, unreachable absent") {
    // a-1->b-1->c (cost 2) beats a-5->c; d unreachable.
    val e = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 5L),
      ("d", "a", 1L)).toDF("src", "dst", "w")
    val d = ShortestPath.run(e, "a", maxHops = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("early-stop equals fixed-point result") {
    val e = Seq(("a", "b", 3L), ("b", "c", 4L)).toDF("src", "dst", "w")
    val d10 = ShortestPath.run(e, "a", maxHops = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d10 === Map("a" -> 0L, "b" -> 3L, "c" -> 7L))
  }

  test("paths rebuild the shortest route, not the direct edge") {
    val e = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 5L),
      ("d", "a", 1L)).toDF("src", "dst", "w")
    val st = ShortestPath.state(e, "a", maxHops = 5)
    val p = ShortestPath.paths(st, maxSteps = 5)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(p === Map("a" -> "a", "b" -> "a->b", "c" -> "a->b->c"))
    assert(ShortestPath.pathTo(st, "c", 5) === Some(Seq("a", "b", "c")))
    assert(ShortestPath.pathTo(st, "zzz", 5) === None)
  }

  test("equal-cost tie breaks to the smallest predecessor id") {
    // d is at distance 2 via b or via c: prev must be min("b","c") = b.
    val e = Seq(("a", "b", 1L), ("a", "c", 1L),
      ("b", "d", 1L), ("c", "d", 1L)).toDF("src", "dst", "w")
    val st = ShortestPath.state(e, "a", maxHops = 4)
    assert(ShortestPath.pathTo(st, "d", 4) === Some(Seq("a", "b", "d")))
  }

  test("zero-weight cycles cannot corrupt the predecessor tree") {
    // z-0->b, b-0->a, a-0->b: with prev-only tie-breaking, round 3's
    // candidate (dist 0, prev "a") would displace b's true prev "z"
    // ("a" < "z") and create an a<->b back-pointer cycle; the hop
    // tie-break keeps the earliest route, so walks always reach z.
    val e = Seq(("z", "b", 0L), ("b", "a", 0L), ("a", "b", 0L))
      .toDF("src", "dst", "w")
    val st = ShortestPath.state(e, "z", maxHops = 6)
    val p = ShortestPath.paths(st, maxSteps = 6)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(p === Map("z" -> "z", "b" -> "z->b", "a" -> "z->b->a"))
  }

  test("negative edge weights are rejected up front") {
    val e = Seq(("a", "b", -1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      ShortestPath.state(e, "a", maxHops = 3)
    }
  }

  /** Plain-Scala transcription of the dense relaxation: every round,
    * each vertex keeps the lexicographic min of `(dist, hops, prev)`
    * over its own state and the candidates relaxed from EVERY known
    * vertex; `earlyStop` ends the loop once no vertex is new and no
    * `(dist, hops)` improved. */
  private def denseOracle(edges: Seq[(Long, Long, Long)], source: Long,
                          maxHops: Int, earlyStop: Boolean)
      : Map[Long, (Long, Int, Long)] = {
    val ord = Ordering.Tuple3[Long, Int, Long]
    var st = Map(source -> ((0L, 0, -1L)))
    var hop = 0
    var done = false
    while (hop < maxHops && !done) {
      val relaxed = for {
        (u, v, w) <- edges
        (d, h, _) <- st.get(u).toSeq
      } yield v -> ((d + w, h + 1, u))
      val next = (st.toSeq ++ relaxed).groupBy(_._1)
        .map { case (id, xs) => id -> xs.map(_._2).min(ord) }
      if (earlyStop)
        done = next.forall { case (id, (d, h, _)) =>
          st.get(id).exists { case (pd, ph, _) =>
            !(d < pd || (d == pd && h < ph)) } }
      st = next
      hop += 1
    }
    st
  }

  test("every round's state equals the dense relaxation, zero weights " +
      "and equal-cost ties included") {
    val rnd = new scala.util.Random(11)
    val n = 14
    // weights 0-3: zero-weight edges (and cycles) plus many ties
    val edges = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
      rnd.nextInt(4).toLong)).distinct
    assert(edges.exists(_._3 == 0L))
    val df = edges.toDF("src", "dst", "w")
    def state(maxHops: Int, earlyStop: Boolean) =
      ShortestPath.state(df, 0L, maxHops, earlyStop, noPrev = -1L)
        .as[(Long, Long, Int, Long)].collect().toSeq.sorted
    def oracle(maxHops: Int, earlyStop: Boolean) =
      denseOracle(edges, 0L, maxHops, earlyStop).toSeq
        .map { case (id, (d, h, p)) => (id, d, h, p) }.sorted
    for (hops <- 0 to 6)
      assert(state(hops, earlyStop = false) == oracle(hops, false),
        s"maxHops = $hops")
    assert(state(40, earlyStop = true) == oracle(40, true))
  }
}
