package graft.graph

import graft.SparkSpec

class SccSpec extends SparkSpec {
  import spark.implicits._

  private def scc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Scc.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two cycles bridged by one edge stay separate components") {
    // 1→2→3→1 and 5→6→7→5, bridge 3→5, tendril 8→1, self-loop 9→9.
    val m = scc(Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (5L, 6L), (6L, 7L), (7L, 5L),
      (3L, 5L), (8L, 1L), (9L, 9L)))
    assert(m == Map(
      1L -> 3L, 2L -> 3L, 3L -> 3L,       // scc label = max member
      5L -> 7L, 6L -> 7L, 7L -> 7L,
      8L -> 8L, 9L -> 9L))
  }

  test("an inner fixpoint cut off by maxInnerRounds fails loudly") {
    // label 4 needs 3 forward rounds to go round the cycle to vertex 3
    val fourCycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Scc.run(fourCycle, maxInnerRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("a DAG is all singletons regardless of id order") {
    val m = scc(Seq((4L, 3L), (3L, 2L), (2L, 1L), (4L, 1L), (1L, 5L)))
    assert(m == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("nested structure: cycle feeding a cycle that feeds it back is ONE scc") {
    // 1→2→1 and 3→4→3 with 2→3 AND 4→1: mutual reach merges all four.
    val m = scc(Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L),
      (2L, 3L), (4L, 1L)))
    assert(m == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L))
  }

  test("resume from a snapshot equals the cold run, incl. cross-peel merges") {
    // Old graph: two separate 2-cycles (1,2) and (5,6) plus DAG tendril
    // 8→1. The cold run extracts them in DIFFERENT peel rounds (labels
    // 2 then 6). Delta closes a big loop through both: 2→5 and 6→1 —
    // the cross-peel merge a direct color resume would get wrong.
    val old = Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 5L), (8L, 1L))
    val delta = Seq((2L, 5L), (6L, 1L), (9L, 8L))
    val all = old ++ delta
    val snapshot = Scc.run(old.toDF("src", "dst"))
    val warm = Scc.resume(all.toDF("src", "dst"), snapshot)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(warm == scc(all), "warm must equal the cold fixpoint")
    assert(warm == Map(1L -> 6L, 2L -> 6L, 5L -> 6L, 6L -> 6L,
      8L -> 8L, 9L -> 9L))
  }

  test("resume on a seeded random digraph split 80/20 equals cold") {
    val rnd = new scala.util.Random(7)
    val n = 40
    val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .distinct
    val (g0, delta) = edges.partition(e => (e._1 + e._2) % 5 != 0)
    assert(delta.nonEmpty && g0.nonEmpty)
    val snapshot = Scc.run(g0.toDF("src", "dst"))
    val warm = Scc.resume(edges.toDF("src", "dst"), snapshot)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(warm == scc(edges))
  }

  test("matches brute-force mutual reachability on a seeded random digraph") {
    val rnd = new scala.util.Random(42)
    val n = 40
    val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .distinct
    // brute-force closure
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val reach = collection.mutable.Set[(Long, Long)](verts.map(v => v -> v): _*)
    edges.foreach(reach += _)
    var changed = true
    while (changed) {
      changed = false
      for ((a, b) <- reach.toSeq; (c, d) <- edges if c == b)
        if (reach.add((a, d))) changed = true
    }
    val expect = verts.map { v =>
      v -> verts.filter(u => reach((v, u)) && reach((u, v))).max
    }.toMap
    assert(scc(edges) == expect)
  }
}
