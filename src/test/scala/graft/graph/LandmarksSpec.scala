package graft.graph

import graft.SparkSpec

class LandmarksSpec extends SparkSpec {
  import spark.implicits._

  // Path 1-2-3-4-5 plus a detached pair 8-9.
  private val path = Seq[(Long, Long)]((1, 2), (2, 3), (3, 4), (4, 5), (8, 9))

  private def bfs(seeds: Seq[Long], rounds: Int): Map[(Long, Long), Int] =
    Landmarks.bfs(path.toDF("src", "dst"), seeds.toDF("id"), rounds)
      .as[(Long, Long, Int)].collect()
      .map { case (id, seed, d) => (id, seed) -> d }.toMap

  test("single-seed BFS distances on a path are the hop counts") {
    val m = bfs(Seq(1L), rounds = 4)
    assert(m == Map((1L, 1L) -> 0, (2L, 1L) -> 1, (3L, 1L) -> 2,
      (4L, 1L) -> 3, (5L, 1L) -> 4))
  }

  test("multi-source: each seed carries its own wave; no cross-talk") {
    val m = bfs(Seq(1L, 5L), rounds = 2)
    assert(m((3L, 1L)) == 2 && m((3L, 5L)) == 2)
    assert(m((2L, 1L)) == 1)
    assert(m.get((2L, 5L)).isEmpty) // 3 hops away, only 2 rounds run
    assert(m.get((5L, 1L)).isEmpty) // 4 hops away, only 2 rounds run
    assert(m.get((8L, 1L)).isEmpty) // other component never reached
  }

  test("a vertex reached twice keeps its FIRST (shortest) distance") {
    // Cycle 1-2-3-1: from seed 1, vertices 2 and 3 are both dist 1;
    // round 2 must not overwrite them with dist 2.
    val cyc = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1))
    val m = Landmarks.bfs(cyc.toDF("src", "dst"), Seq(1L).toDF("id"), 3)
      .as[(Long, Long, Int)].collect()
      .map { case (id, seed, d) => (id, seed) -> d }.toMap
    assert(m == Map((1L, 1L) -> 0, (2L, 1L) -> 1, (3L, 1L) -> 1))
  }

  test("harmonic closeness sums micros-snapped reciprocal distances") {
    val h = Landmarks.harmonicCloseness(
        path.toDF("src", "dst"), Seq(1L, 5L).toDF("id"), rounds = 4)
      .as[(Long, Long, Long)].collect()
      .map { case (id, r, s) => id -> ((r, s)) }.toMap
    // vertex 3: dist 2 from both seeds -> 2 reached, 2 * 500000
    assert(h(3L) == ((2L, 1000000L)))
    // vertex 1: dist 0 from itself (contributes 0) + dist 4 from seed 5
    assert(h(1L) == ((2L, 250000L)))
    // vertex 2: dist 1 + dist 3 -> 1000000 + 333333
    assert(h(2L) == ((2L, 1333333L)))
    assert(h.get(8L).isEmpty)
  }

  test("every round count matches a plain-Scala multi-source BFS") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(24)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
    val seeds = Seq(0L, 5L, 9L)
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).distinct }
    def oracle(rounds: Int): Seq[(Long, Long, Int)] = {
      var known = seeds.map(s => (s, s) -> 0).toMap
      var frontier = seeds.map(s => (s, s))
      for (r <- 1 to rounds) {
        val fresh = frontier
          .flatMap { case (v, s) => adj.getOrElse(v, Nil).map(_ -> s) }
          .distinct.filterNot(known.contains)
        known ++= fresh.map(_ -> r)
        frontier = fresh
      }
      known.toSeq.map { case ((id, seed), d) => (id, seed, d) }.sorted
    }
    for (rounds <- 0 to 4) {
      val got = Landmarks.bfs(edges.toDF("src", "dst"), seeds.toDF("id"),
        rounds).as[(Long, Long, Int)].collect().toSeq.sorted
      assert(got == oracle(rounds), s"rounds = $rounds")
    }
  }
}
