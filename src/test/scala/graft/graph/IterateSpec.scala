package graft.graph

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The generic BSP facade must support an algorithm the library does NOT
  * ship — here BFS depth from a source — and the delegating algorithms
  * must keep their exact round-5 semantics. */
class IterateSpec extends SparkSpec {

  import spark.implicits._

  test("user-authored BFS depth via Iterate.run (sparse frontier)") {
    // 1 → 2 → 3 → 4, plus 1 → 3 shortcut; BFS depths: 1:0, 2:1, 3:1, 4:2.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
      .toDF("src", "dst").localCheckpoint(false)
    val verts = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
    val init = verts
      .withColumn("depth", when(col("id") === 1L, 0L).otherwise(lit(null)))
      .localCheckpoint(false)

    val out = Iterate.run(
      init,
      sendMsg = frontier => frontier.filter(col("depth").isNotNull)
        .join(edges, col("id") === col("src"))
        .select(col("dst").as("id"), (col("depth") + 1L).as("cand")),
      mergeMsg = _.groupBy("id").agg(min("cand").as("cand")),
      vprog = (st, msgs) => st.join(msgs, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("depth"), col("cand")).as("depth"),
          (col("depth").isNull && col("cand").isNotNull).as("changed")),
      maxRounds = 10)

    val depths = out.state.as[(Long, Option[Long])].collect().toMap
    assert(depths === Map(1L -> Some(0L), 2L -> Some(1L),
      3L -> Some(1L), 4L -> Some(2L)))
  }

  /** Min-label propagation along `edges` from each vertex's own id. */
  private def minLabels(edges: Seq[(Long, Long)], maxRounds: Int,
                        earlyStop: Boolean): Iterate.Result = {
    val e = edges.toDF("src", "dst").localCheckpoint(false)
    val init = edges.flatMap(p => Seq(p._1, p._2)).distinct
      .map(v => (v, v)).toDF("id", "component").localCheckpoint(false)
    Iterate.run(
      init,
      sendMsg = f => f.join(e, col("id") === col("src"))
        .select(col("dst").as("id"), col("component").as("cand")),
      mergeMsg = _.groupBy("id").agg(min("cand").as("cand")),
      vprog = (st, m) => st.join(m, Seq("id"), "left")
        .select(col("id"),
          when(col("cand") < col("component"), col("cand"))
            .otherwise(col("component")).as("component"),
          coalesce(col("cand") < col("component"), lit(false)).as("changed")),
      maxRounds = maxRounds,
      earlyStop = earlyStop)
  }

  private def labels(r: Iterate.Result): Map[Long, Long] =
    r.state.as[(Long, Long)].collect().toMap

  test("early stop halts before maxRounds on a settled graph") {
    // round 1 moves 2's label to 1; round 2 sends nothing and stops
    val r = minLabels(Seq((1L, 2L)), maxRounds = 100, earlyStop = true)
    assert(labels(r) === Map(1L -> 1L, 2L -> 1L))
    assert(r.rounds == 2 && r.converged, r)
  }

  test("a run cut off by maxRounds while still changing has not converged") {
    // the chain 1→2→3→4→5 needs 4 rounds to carry label 1 to vertex 5
    val r = minLabels(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      maxRounds = 2, earlyStop = true)
    assert(r.rounds == 2 && !r.converged, r)
    assert(labels(r) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      5L -> 3L))
  }

  test("an earlyStop = false run takes every round and never converges") {
    val r = minLabels(Seq((1L, 2L)), maxRounds = 5, earlyStop = false)
    assert(r.rounds == 5 && !r.converged, r)
    assert(labels(r) === Map(1L -> 1L, 2L -> 1L))
  }

  test("vprog without a changed column is rejected") {
    val init = Seq((1L, 1L)).toDF("id", "v").localCheckpoint(false)
    intercept[IllegalArgumentException] {
      Iterate.run(init,
        sendMsg = identity, mergeMsg = identity,
        vprog = (st, _) => st, maxRounds = 1)
    }
  }
}
