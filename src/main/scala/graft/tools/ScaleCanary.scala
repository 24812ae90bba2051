package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale canary: a seeded synthetic corpus roughly 10× the sf0.1
  * bench inputs (500k-vertex / 5M-edge graph, 500k short documents with
  * planted duplicates), one timed pass over each iterative or
  * shuffle-heavy operator. The driver-generated testdata caps at sf0.1,
  * so every "survives 100×" design claim is otherwise argued, not
  * measured — this is the empirical data point above that cap, the same
  * role the reference's 100k-vertex PageRank convergence canary plays
  * (`pagerank/calculator_test.go:141-143`).
  *
  * Everything derives from `spark.range` + `xxhash64`: deterministic,
  * no RNG, no disk staging. 10% of edges land on 1k hub vertices so the
  * graph has the skew a real link graph has.
  *
  * Sizes override via GRAFT_CANARY_V / _E / _DOCS; timings are recorded
  * in COVERAGE.md.
  */
object ScaleCanary {
  def main(args: Array[String]): Unit = {
    val nV = sys.env.getOrElse("GRAFT_CANARY_V", "500000").toLong
    val nE = sys.env.getOrElse("GRAFT_CANARY_E", "5000000").toLong
    val nD = sys.env.getOrElse("GRAFT_CANARY_DOCS", "500000").toLong
    val spark = graft.Session.local()

    // ---- graph: uniform sources, 10% of edges into 1k hubs ----
    val edges = spark.range(nE).select(
        pmod(xxhash64(col("id"), lit(1)), lit(nV)).as("src"),
        when(pmod(xxhash64(col("id"), lit(2)), lit(10)) === 0,
          pmod(xxhash64(col("id"), lit(3)), lit(1000)))
          .otherwise(pmod(xxhash64(col("id"), lit(3)), lit(nV))).as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint() // eager: time the operators, not the generator
    val verts = spark.range(nV).select(col("id"))

    // ---- documents: 25-token texts; every 100th doc duplicates its
    // predecessor (seed swap), so near-dup recall has planted truth ----
    val docs = spark.range(nD).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(24)),
          i => concat(lit("w"), pmod(xxhash64(
            when(pmod(col("id"), lit(100)) === 1, col("id") - 1)
              .otherwise(col("id")) * 131 + i, lit(7)), lit(5000)))),
          " ").as("text"))
      .localCheckpoint()
    val planted = nD / 100

    // ---- embeddings: 64-dim hash-derived unit-ish vectors; every
    // 100th vector is a slightly perturbed copy of its predecessor so
    // near-pair search has planted truth at scale ----
    val nEmb = nD
    val emb = spark.range(nEmb).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          ((pmod(xxhash64(
            when(pmod(col("id"), lit(100)) === 1, col("id") - 1)
              .otherwise(col("id")) * 977 + d, lit(11)), lit(2000))
            / 1000.0 - 1.0) +
            // the copy gets a +0.01 nudge on every component
            when(pmod(col("id"), lit(100)) === 1, 0.01).otherwise(0.0))
            .cast("float")).as("embedding"))
      .localCheckpoint()

    // Inputs are lineage-truncated checkpoints: their blocks are the
    // ONLY copy, so the per-op cleanup must never drop them.
    var keep = spark.sparkContext.getPersistentRDDs.keySet

    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[canary] $tag%-22s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      // isolate ops: drop SQL cache AND the op's own checkpoint blocks
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) =>
          if (!keep.contains(id)) rdd.unpersist(blocking = false) }
      r
    }
    println(s"[canary] graph V=$nV E=${edges.count()} docs=$nD")

    // GRAFT_CANARY_TAIL=1 skips straight to the newest legs — clean
    // re-measures of recent additions without the full 40-leg pass.
    if (sys.env.get("GRAFT_CANARY_TAIL").isEmpty) {

    val pr = time("pagerank") {
      val r = graft.graph.PageRank.run(verts, edges, maxIter = 20,
        stopTol = Some(1e-3))
      (r.iterations, r.sad, r.scores.count())
    }
    println(s"[canary]   pagerank iters=${pr._1} sad=${pr._2} rows=${pr._3}")

    val comp = time("components") {
      graft.graph.Components.run(
          edges.select(col("src").as("a"), col("dst").as("b")))
        .agg(countDistinct(col("component"))).first().getLong(0)
    }
    println(s"[canary]   components distinct=$comp")

    // Speculative strategy: the default Jones-Plassmann rule sheds only
    // ~1/(degree+1) per round — at degree ~20 that is ~80 rounds, each
    // paying full superstep latency. Conflict-retry coloring converges
    // in O(log V) rounds at this scale (see Coloring.run scaladoc).
    val colors = time("coloring (speculative)") {
      graft.graph.Coloring.run(verts, edges, speculative = true)
        .agg(max(col("color"))).first().getInt(0)
    }
    println(s"[canary]   coloring maxColor=$colors")

    val dups = time("minhash near-dup") {
      graft.dedup.Dedup.minHashNearDups(docs).count()
    }
    println(s"[canary]   near-dup pairs=$dups (planted=$planted)")

    val exact = time("exact dedup") {
      docs.groupBy(xxhash64(col("text")).as("h"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    }
    println(s"[canary]   exact dup groups=$exact")

    // Scaling law from Similarity: b ≈ log2(N / targetBucketSize).
    // Candidate volume is Σ bucket² ≈ N²/2^b per band, so for PAIR
    // MINING the target bucket is small: N=500k with 11-bit bands
    // (~250/bucket) enumerates ~250M candidate pairs and the exact
    // verify dominates; 15-bit bands (~15/bucket) cut that ~16×.
    val pairs = time("ann near-pairs") {
      graft.ml.Similarity.nearPairs(emb, planes = 60, minCos = 0.99,
        bands = 4).count()
    }
    println(s"[canary]   ann near-pairs=$pairs (planted=${nEmb / 100})")

    val topk = time("ann lshTopK+multiprobe") {
      val q = (0 until 64).map(i => ((i % 13) - 6) / 6.0f)
      graft.ml.Similarity.lshTopK(emb, q, 10, planes = 16,
        multiProbe = 8).count()
    }
    println(s"[canary]   ann topk rows=$topk")

    val ivf = time("ivf build(64)+probe") {
      val q = (0 until 64).map(i => ((i % 13) - 6) / 6.0f)
      val idx = graft.ml.Ivf.build(emb, k = 64, iters = 3)
      graft.ml.Ivf.topK(idx, q, 10, nprobe = 4).count()
    }
    println(s"[canary]   ivf probe rows=$ivf")

    // PQ at corpus scale: 8×16 codebooks (2 Lloyd rounds/subspace),
    // ONE encode pass over all vectors — the 32× compression event —
    // then an ADC probe for a vector with a PLANTED perturbed copy
    // (+0.01/component at id+1): the copy must survive quantization
    // into the top-10, the recall ground truth at this scale.
    val pqQ = emb.filter(col("vec_id") === 100)
      .select("embedding").first().getSeq[Float](0)
    var pqBooks: Array[(Array[Long], Array[Array[Double]])] = null
    var pqEnc: org.apache.spark.sql.DataFrame = null
    val pqN = time("pq train+encode (8x16)") {
      pqBooks = graft.ml.Pq.collectBooks(
        graft.ml.Pq.train(emb, m = 8, k = 16, iters = 2), m = 8)
      pqEnc = graft.ml.Pq.encode(emb, pqBooks, subDim = 8)
        .localCheckpoint(false)
      val n = pqEnc.count()
      keep = keep ++ spark.sparkContext.getPersistentRDDs.keySet
      n
    }
    val pqTop = time("pq adc probe") {
      graft.ml.Pq.adcTopK(pqEnc, pqBooks, pqQ, 10, subDim = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    require(pqTop.contains(100L) && pqTop.contains(101L),
      s"pq probe lost the planted copy: $pqTop")
    println(s"[canary]   pq encoded=$pqN top10 has 100+101=" +
      s"${pqTop.contains(100L) && pqTop.contains(101L)}")

    // The true distinct text count is known by construction: planted
    // copies collapse, so distinct = nD - planted.
    val kmv = time("kmv distinct") {
      graft.sketch.Sketches.kmvDistinct(docs, col("text"), 1024)
        .first().getAs[Long]("est_distinct")
    }
    println(s"[canary]   kmv est=$kmv (true=${nD - planted})")

    val cm = time("count-min sketch") {
      graft.sketch.Sketches.countMinEstimate(
        docs.select(explode(split(col("text"), " ")).as("term")),
        col("term"), Seq("w0", "w1", "w2"), d = 4, w = 4096).count()
    }
    println(s"[canary]   count-min probes=$cm")

    val salted = time("salted join+agg") {
      val dim = spark.range(nV).select(col("id").as("src"),
        pmod(col("id"), lit(5)).cast("string").as("grp"))
      graft.operators.Skew.twoStageAgg(
        graft.operators.Skew.saltedJoin(edges, dim, Seq("src"), 16),
        Seq("grp"), 16,
        partial = Seq(count(lit(1)).as("pn")),
        merge = Seq(sum(col("pn")).as("n"))).count()
    }
    println(s"[canary]   salted-agg groups=$salted")

    val tri = time("triangle count") {
      graft.graph.Triangles.count(
          edges.select(col("src").as("u"), col("dst").as("v")))
        .first().getAs[Long]("n_triangles")
    }
    println(s"[canary]   triangles=$tri (1k-hub skew handled by degree orientation)")

    val splitLabels = time("sample+split") {
      graft.operators.Sampling.hashSample(docs,
          col("doc_id").cast("string"), 25)
        .withColumn("split", graft.operators.Sampling.splitLabel(
          col("doc_id").cast("string"), 80, 10))
        .groupBy("split").count().count()
    }
    println(s"[canary]   split labels=$splitLabels")

    // k-core peeling at 10x. k sits just under the ER core-emergence
    // threshold (mean total degree ~20; a 15-core provably vanishes at
    // that density, a 12-core is giant) so the peel does real cascading
    // work instead of deleting everything in round one.
    val kcore = time("k-core (k=12)") {
      val c = graft.graph.KCore.run(
        edges.select(col("src"), col("dst")), k = 12, rounds = 30)
      val cnt = c.count()
      val minDeg = if (cnt > 0)
        c.agg(min("degree")).first().getLong(0) else -1L
      (cnt, minDeg)
    }
    println(s"[canary]   k-core survivors=${kcore._1} " +
      s"minDeg=${kcore._2} (early-stop fixpoint)")

    // duplicate spans at 10x: the planted predecessor copies make every
    // span of theirs duplicated — recall has ground truth; the dup-gram
    // set stays broadcastable because the corpus is largely unique
    val spans = time("duplicate spans") {
      val d = graft.dedup.Dedup.duplicateSpans(docs, n = 5)
      d.filter(col("dup_spans") === col("n_spans")).count()
    }
    require(spans >= 2 * planted,
      s"full-dup docs $spans < ${2 * planted} planted")
    println(s"[canary]   full-dup docs=$spans (>= ${2 * planted} planted)")

    // prefix-sum packing: the subtotal collect stays #partitions-sized
    // however many docs there are — the leg proves the constant-driver
    // contract at 10x
    val packed = time("sequence packing") {
      val p = graft.text.Pack.packedOffsets(docs, budget = 2048)
      p.agg(max(col("seq_id")).as("m"), sum(col("n_tok")).as("t"),
        max(col("tok_offset") + col("n_tok")).as("end")).first()
    }
    // end-of-corpus invariant: the highest offset+count must equal the
    // grand total — any base/partition mismatch breaks this loudly
    require(packed.getLong(2) == packed.getLong(1),
      s"packing offsets inconsistent: end=${packed.getLong(2)} " +
        s"total=${packed.getLong(1)}")
    println(s"[canary]   packing seqs=${packed.getLong(0) + 1} " +
      s"tokens=${packed.getLong(1)} (25/doc, offsets verified)")

    // label propagation at 10x: same superstep shape as PageRank (join
    // + two keyed aggs per round, no window), 3 fixed rounds
    val lpa = time("label propagation") {
      graft.graph.Communities.labelPropagation(
          edges.select(col("src"), col("dst")), rounds = 3)
        .select(countDistinct(col("community"))).first().getLong(0)
    }
    println(s"[canary]   lpa communities=$lpa")

    // HLL at 10x on the same key as the KMV leg: the register table is
    // 8 KB whatever the corpus size; truth is nD - planted
    val hll = time("hll distinct") {
      graft.sketch.Sketches.hllDistinct(docs, col("text"), p = 10)
        .first().getAs[Long]("est_micros") / 1000000L
    }
    println(s"[canary]   hll est=$hll (true=${nD - planted})")

    // bloom runtime filter at 10x: 20k-key dim filter probed by the 5M
    // fact rows — 3 scan-stage broadcast semi-joins, fact never shuffles
    val bloom = time("bloom filter probe") {
      val dim = spark.range(20000).select((col("id") * 7).as("k"))
      val bits = graft.operators.RuntimeFilter.bloomBits(
        dim, col("k"), k = 3, mBits = 1 << 18).localCheckpoint(false)
      graft.operators.RuntimeFilter.probe(
        edges.select(col("src").as("k")), col("k"), bits,
        k = 3, mBits = 1 << 18).count()
    }
    println(s"[canary]   bloom pass=$bloom of $nE (pre-join pruning)")

    // ddsketch at 10x: quantiles of the uniform-ish hash edge sources —
    // the bucket table stays O(log range) rows at any scale
    val dd = time("ddsketch quantiles") {
      graft.sketch.Sketches.ddQuantiles(
        edges.select((col("src") + 1).cast("double").as("x")),
        col("x"), alpha = 0.01, pcts = Seq(50, 99))
        .collect().map(r => r.getInt(0) -> r.getLong(2) / 1000000L).toMap
    }
    println(s"[canary]   ddsketch p50=${dd(50)} p99=${dd(99)} " +
      s"(true ~${nV / 2} / ~${nV * 99 / 100})")

    // bucketed range join at 10x: 5M points against 500k intervals —
    // intervals cover the lower half of each 1000-unit stripe, so ~50%
    // of points must land; candidate density per (key, bucket) stays
    // O(points / keys / buckets) by construction
    val rj = time("range join") {
      val nK = 50000L
      val pts = spark.range(nE).select(
        pmod(xxhash64(col("id"), lit(21)), lit(nK)).as("k"),
        pmod(xxhash64(col("id"), lit(22)), lit(10000L)).as("pt"))
      val ivs = spark.range(nK * 10).select(
        pmod(col("id"), lit(nK)).as("k"),
        ((col("id") / nK).cast("long") * 1000).as("start"))
        .withColumn("end", col("start") + 499)
      graft.operators.RangeJoin.pointInInterval(pts, ivs, Seq("k"),
        "pt", "start", "end", bucketWidth = 250L).count()
    }
    require(rj > (nE * 45) / 100 && rj < (nE * 55) / 100,
      s"range join matched $rj of $nE — expected ~50%")
    println(s"[canary]   range-join matches=$rj of $nE (~50% planted)")

    // sparse TF-IDF cosine at scale: 200k docs over a 500k-term
    // vocabulary (df ~ 10, so the df<=64 candidate cap keeps volume
    // ~ df * |postings|); the planted predecessor copies are identical
    // term vectors -> cos 1.0, recall has ground truth
    val sdocs = spark.range(200000L).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(24)),
          i => concat(lit("t"), pmod(xxhash64(
            when(pmod(col("id"), lit(100)) === 1, col("id") - 1)
              .otherwise(col("id")) * 131 + i, lit(7)), lit(500000L)))),
          " ").as("text"))
      .localCheckpoint()
    val sparsePlanted = 200000L / 100
    val sc = time("sparse cosine pairs") {
      graft.ml.SparseSim.tfidfCosinePairs(sdocs, maxDf = 64,
        minCosMicros = 900000L).count()
    }
    require(sc >= sparsePlanted,
      s"sparse cosine found $sc >= $sparsePlanted planted identical pairs")
    println(s"[canary]   sparse-cosine pairs=$sc " +
      s"(>= $sparsePlanted planted)")

    // Adamic-Adar at 10x: wedge centers are the 500k sources (mean
    // out-degree ~10, capped at 40), so candidate volume is
    // sum(min(deg,cap)^2) ~ 55M — linear in |edges| with the cap knob
    val aa = time("adamic-adar top100") {
      graft.graph.LinkPrediction.adamicAdar(
        edges.select(col("src").as("mid"), col("dst").as("item")),
        maxMidDegree = 40, topN = 100).count()
    }
    println(s"[canary]   adamic-adar top=$aa (hub items fine: volume " +
      "is center-degree-bounded)")

    // grouped HLL: 16 per-group sketches over the doc corpus — state is
    // <= 16 * 1024 rows whatever the corpus size
    val hg = time("hll grouped") {
      graft.sketch.Sketches.hllDistinctGrouped(
        docs.select(pmod(col("doc_id"), lit(16)).as("g"), col("text")),
        Seq("g"), col("text"), p = 10).count()
    }
    println(s"[canary]   hll-grouped groups=$hg")

    // HITS at 10x: exact-integer power iteration; the overflow guard
    // derives the safe iteration budget from the measured degree
    // profile (1k hubs with ~500 in-edges dominate the growth bound)
    val hits = time("hits (3 iters)") {
      graft.graph.Hits.run(edges, iters = 3)
        .agg(max("hub").as("h"), max("auth").as("a")).first()
    }
    println(s"[canary]   hits maxHub=${hits.getLong(0)} " +
      s"maxAuth=${hits.getLong(1)} (BIGINT-exact, no normalization)")

    // SCC at 10x: mean degree ~10 makes one giant SCC plus tendrils —
    // outer rounds stay in single digits because every round extracts
    // all current prefix-maximum roots simultaneously
    val scc = time("scc") {
      graft.graph.Scc.run(edges)
        .agg(countDistinct("scc").as("n"), count(lit(1)).as("v")).first()
    }
    println(s"[canary]   scc components=${scc.getLong(0)} " +
      s"over ${scc.getLong(1)} vertices")

    // HyperBall at 10x: per-vertex ball registers (m=16) merged along
    // 5M edges — register traffic is |E|*<=m rows per hop, state
    // |V|*<=m; the per-hop totals trace the neighborhood function
    val hb = time("hyperball (2 hops)") {
      graft.graph.HyperBall.run(edges, p = 4, hops = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(2) / 1000000L).toMap
    }
    println(s"[canary]   hyperball sumN t=1:${hb(1L)} t=2:${hb(2L)} " +
      "(monotone ball growth)")

    // random walks at 10x: 500k lock-step walks, 4 steps; per-step
    // fan-out is sum(deg(cur)) ~ |E| — the irreducible uniform-walk
    // cost; hash-argmin keeps it one join + one combinable agg
    val rw = time("random walks (4)") {
      graft.graph.RandomWalk.walks(edges, steps = 4, seed = "canary")
        .groupBy("vertex").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("visited"), max("n").as("hot")).first()
    }
    println(s"[canary]   walks visited=${rw.getLong(0)} " +
      s"hottest=${rw.getLong(1)} (hubs attract mass, as designed)")

    // trigram index at 10x: posting build over 500k docs (~75M raw
    // trigrams before the per-doc distinct), then one indexed search —
    // query cost is the pattern's posting lists, not the corpus
    val tg = time("trigram build+search") {
      graft.search.Trigram.wildcardSearch(docs, "doc_id", "text",
        "w123 w").count()
    }
    println(s"[canary]   trigram matches=$tg (index path, exact)")

    // ---- synthetic event stream for the q127-q132 operator family:
    // 5M events over 500k users, 10% concentrated on 1k hot users, ts
    // monotone in event_id ----
    val nEv = 5000000L
    val events = spark.range(nEv).select(
        col("id").as("event_id"),
        when(pmod(xxhash64(col("id"), lit(11)), lit(10)) === 0,
          pmod(xxhash64(col("id"), lit(12)), lit(1000)))
          .otherwise(pmod(xxhash64(col("id"), lit(12)), lit(500000L)))
          .as("user_id"),
        element_at(array(lit("signup"), lit("view"), lit("click"),
          lit("purchase"), lit("error")),
          (pmod(xxhash64(col("id"), lit(13)), lit(5)) + 1).cast("int"))
          .as("event_type"),
        (col("id") * 1000L).as("ts_us"))
      .localCheckpoint()
    // the event stream feeds several legs — shield its blocks from the
    // per-op cleanup (the previous leg already swept its own blocks)
    keep = spark.sparkContext.getPersistentRDDs.keySet

    // funnel at 5M events: 4 keyed min-aggs + 3 joins, ALL keyed on
    // user_id — the exchange is planned once; no window over the stream
    val fl = time("funnel (4 steps)") {
      def step(prev: DataFrame, et: String, tp: String, tc: String) =
        events.filter(col("event_type") === et)
          .join(prev.select("user_id", tp), Seq("user_id"))
          .filter(col("ts_us") > col(tp))
          .groupBy("user_id").agg(min("ts_us").as(tc))
      val s1 = events.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      step(step(step(s1, "view", "t1", "t2"), "click", "t2", "t3"),
        "purchase", "t3", "t4").count()
    }
    println(s"[canary]   funnel completions=$fl of 500k users")

    // CDC capture at 5M events: changePoints |> scd2, one shuffle by
    // user_id, both windows share the sort
    val sc2 = time("scd2 intervals") {
      val tiered = events.withColumn("tier",
        pmod(xxhash64(col("event_id"), lit(31)), lit(4)))
      val chg = graft.store.StoreOps.changePoints(tiered, Seq("user_id"),
        "ts_us", "tier", tieBreak = Seq("event_id"))
      graft.store.StoreOps.scd2(chg, Seq("user_id"), "ts_us",
        tieBreak = Seq("event_id")).count()
    }
    println(s"[canary]   scd2 intervals=$sc2 (~3/4 of events change tier)")

    // as-of attribution at 5M: every purchase matched to the latest
    // preceding touch — tagged-union + ONE window, no range blow-up
    val at = time("asof attribution") {
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val touches = events
        .filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("ts_us").as("tts"),
          col("event_type").as("touch"))
      graft.operators.AsOf.join(purchases, touches, Seq("user_id"),
        "ts_us", "tts").count()
    }
    println(s"[canary]   asof rows=$at (1M purchases vs 2M touches)")

    // salted join with a DELIBERATE straggler key: ~20% of 5M fact rows
    // land on key 0; 32 salts cut the hottest reducer cell to ~31k rows.
    // The dim x32 replication (16M rows) is far past the broadcast
    // threshold, so this exercises the shuffled path q48's small-scale
    // spec cannot.
    val sj = time("salted join (1M hot key)") {
      val fact = events.select(col("event_id"),
        when(pmod(xxhash64(col("event_id"), lit(21)), lit(5)) === 0,
          lit(0L))
          .otherwise(pmod(xxhash64(col("event_id"), lit(22)),
            lit(500000L))).as("k"))
      val dim = spark.range(500000L)
        .select(col("id").as("k"), xxhash64(col("id")).as("attr"))
      graft.operators.Skew.saltedJoin(fact, dim, Seq("k"), salt = 32)
        .count()
    }
    require(sj == nEv, s"salted join emitted $sj of $nEv fact rows")
    println(s"[canary]   salted-join rows=$sj (lossless, skew spread x32)")

    // HLL rollup at 5M: 50 per-day sketches merged register-wise into
    // the all-time estimate — merge state is 50x1024 rows, the raw
    // events are scanned exactly once
    val hr = time("hll rollup merge") {
      val ev2 = events.select(
        (col("event_id") / lit(100000L)).cast("long").as("day"),
        col("user_id").cast("string").as("u"))
      val dayRegs = graft.sketch.Sketches
        .hllObservationsKeyed(ev2, Seq(col("day")), col("u"), 10)
        .groupBy("day", "idx").agg(max("rho").as("m_rho"))
      graft.sketch.Sketches.hllEstimateGrouped(
          dayRegs.groupBy("idx").agg(max("m_rho").as("m_rho")),
          Seq(), 10)
        .first().getLong(2) / 1000000L
    }
    println(s"[canary]   hll all-time est=$hr (true distinct ~500k)")

    // containment at 500k docs: the planted predecessor copies are
    // IDENTICAL shingle sets -> containment 1.0 both ways; candidates
    // ride the df<=64 inverted index, never an all-pairs join
    val ct = time("containment pairs") {
      graft.dedup.Dedup.containmentPairs(docs, shingleN = 3,
        maxDf = 64, minContainmentPpm = 800000L).count()
    }
    require(ct >= planted,
      s"containment found $ct >= $planted planted identical pairs")
    println(s"[canary]   containment pairs=$ct (>= $planted planted)")

    // BPE learn at 500k docs: ONE corpus pass builds the weighted
    // vocab; every merge round is a vocab-sized hash-agg. batch=32
    // bounds the sequential driver-job count (the 100×-scale concern
    // for a real 32k-merge vocab learn): 256 merges must land in a
    // bounded round count, not 256 driver jobs — the vocab-learn scale
    // path the round-6 verdict flagged, now measured.
    val bpeRounds = new java.util.concurrent.atomic.AtomicInteger()
    val bm = time("bpe learn 256 merges (batch=32)") {
      graft.text.Bpe.learnMerges(docs, "text", numMerges = 256,
        batch = 32, onRound = _ => bpeRounds.incrementAndGet())
    }
    require(bm.size == 256, s"expected 256 merges, got ${bm.size}")
    // The maximal rank-order-PREFIX rule is conservative — it stops at
    // the first conflicting pair to keep the learned order valid, so a
    // round averages ~3 merges on this vocab (87 rounds measured for
    // 256). The bound asserts batching beats sequential by ≥2×, not a
    // specific prefix yield.
    require(bpeRounds.get <= 128,
      s"batched learn must bound driver rounds: ${bpeRounds.get} for 256 merges")
    println(s"[canary]   bpe merges=${bm.size} rounds=${bpeRounds.get} " +
      s"top=(${bm.head._2},${bm.head._3})x${bm.head._4}")

    } // end !GRAFT_CANARY_TAIL

    // betweenness from 64 landmarks, 3 hops, on the 5M-edge graph —
    // (V·seeds)-pair state through forward sigma + backward delta; the
    // published knob (landmark count) stays fixed as V grows
    val bw = time("betweenness (64 seeds)") {
      graft.graph.Betweenness.landmark(edges,
        verts.filter(col("id") % (nV / 64) === 0), rounds = 3).count()
    }
    println(s"[canary]   betweenness top rows=$bw")

    // exact quantiles over 50M longs: two aggregation scans + three
    // value-pruned TakeOrdereds — no global sort at any size
    val eq = time("exact quantiles (50M)") {
      graft.operators.Quantiles.exact(
          spark.range(50000000L).select(
            pmod(xxhash64(col("id")), lit(1000000L)).as("v")),
          col("v"), Seq("p50" -> 0.5, "p99" -> 0.99))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    }
    println(s"[canary]   exact quantiles p50=${eq("p50")} p99=${eq("p99")}")

    // PCA gram at 500k×64: the d²-per-partition combine is the whole
    // data-sized cost; the 64×64 eigen-iteration is driver-trivial
    val pc = time("pca leading dir") {
      graft.ml.Pca.leadingDirection(emb).count()
    }
    println(s"[canary]   pca components=$pc")

    // MIS over the 5M-edge hub graph: the shrinking-topology Luby loop
    // decides the bulk in round 1, so later rounds touch residue only
    val mis = time("mis (5M edges)") {
      val r = graft.graph.Mis.run(edges)
      r.filter(col("in_mis")).count()
    }
    println(s"[canary]   mis members=$mis")

    // butterflies over the 5M-edge src/dst incidence viewed bipartite:
    // the hub side holds 1k vertices of degree ~500 (≈125M wedges);
    // adaptive side selection must take the uniform side (≈22M) — the
    // 6× cheaper enumeration for the identical count
    val bf = time("butterflies (5M edges)") {
      graft.graph.Butterflies.count(edges, left = "src", right = "dst")
        .collect().head
    }
    println(s"[canary]   butterflies side=${bf.getString(1)} " +
      s"wedges=${bf.getLong(2)} count=${bf.getLong(3)}")
    require(bf.getString(1) == "left", "expected the uniform side")

    // temporal earliest-arrival: hash timestamps on the same edges,
    // 500 seeds, 3 rounds — message volume = active-frontier out-edges
    val tr = time("temporal reach (3 hops)") {
      graft.graph.TemporalReach.earliestArrival(
          edges.withColumn("ts", pmod(xxhash64(col("src"), col("dst")),
            lit(1000000L))),
          verts.filter(col("id") % (nV / 500) === 0)
            .select(col("id"), lit(0L).as("arr")),
          rounds = 3).count()
    }
    println(s"[canary]   temporal reached=$tr")

    // native one-pass HLL vs the register-row DataFrame twin on 50M
    // values — the same estimate, but the aggregate ships one 1 KiB
    // buffer per partition instead of shuffling register rows
    val ids = spark.range(50000000L)
      .select(concat(lit("u"), pmod(xxhash64(col("id")), lit(20000000L)))
        .as("u")).localCheckpoint()
    // shared input of the two timed legs — shield it from per-leg cleanup
    keep = keep ++ spark.sparkContext.getPersistentRDDs.keySet
    val hn = time("hll native (50M)") {
      ids.agg(graft.functions.SketchFunctions.hllDistinct(col("u")).as("h"))
        .select("h.est_micros").collect().head.getLong(0)
    }
    val hd = time("hll dataframe (50M)") {
      graft.sketch.Sketches.hllDistinct(ids, col("u"), p = 10)
        .select("est_micros").collect().head.getLong(0)
    }
    require(hn == hd, s"native $hn != dataframe $hd")
    println(s"[canary]   hll est=${hn / 1000000L} (native == dataframe)")

    // exact PPJoin at 500k docs: the prefix filter (q77's operator)
    // staged so candidate VOLUME — the intermediate that decides
    // whether PPJoin scales — is recorded next to the verified-pair
    // count. Candidates ride the global-frequency-ordered shingle
    // prefixes (12 of 23 shingles/doc at t=0.5): on a mostly-unique
    // corpus the volume tracks shared-rare-shingle pairs, never
    // all-pairs. Planted identical neighbours give recall ground truth.
    // lineage-truncating checkpoint, shielded from the per-leg cleanup
    // INSIDE the timed block (the cleanup runs at block end and would
    // otherwise drop the blocks, making the verify leg re-derive the
    // candidate stage — twice, since ids also reads it)
    val ppCand = graft.dedup.Dedup.prefixCandidates(docs, shingleN = 3,
      threshold = 0.5).localCheckpoint(false)
    val ppCandN = time("ppjoin candidates") {
      val n = ppCand.count()
      keep = keep ++ spark.sparkContext.getPersistentRDDs.keySet
      n
    }
    // verify arrays candidate-restricted, as prefixFilterJoin does
    val ppIds = ppCand.select(col("a").as("doc_id"))
      .union(ppCand.select(col("b").as("doc_id"))).distinct()
    val ppPairs = graft.dedup.Dedup.jaccardByArrays(ppCand,
        graft.dedup.Dedup.shingleArrays(
          docs.join(ppIds, Seq("doc_id"), "left_semi"), 3), "doc_id")
      .filter(col("jaccard") >= 0.5)
    // ONE action inside the timed block computes both counts — no
    // cross-leg state, so the per-leg cleanup has nothing to break
    val (ppN, ppPlanted) = time("ppjoin verify") {
      val r = ppPairs.agg(count(lit(1)).as("n"),
        sum(when(col("b") === col("a") + 1 &&
          pmod(col("b"), lit(100)) === 1, 1L).otherwise(0L)).as("pl"))
        .first()
      (r.getLong(0), r.getLong(1))
    }
    require(ppPlanted >= planted,
      s"ppjoin found $ppPlanted of $planted planted identical pairs")
    println(s"[canary]   ppjoin candidates=$ppCandN pairs=$ppN " +
      s"planted=$ppPlanted/$planted")

    // streaming admission at corpus scale: the q211 ingest gate with
    // the full 500k-doc corpus as the stored side and a 5k-doc delta
    // arriving in two micro-batches (every even-id delta doc is a
    // verbatim copy of corpus doc id-1 → planted truth). Measures the
    // end-to-end gate latency — static band-index build + two
    // stream-static probe batches — the number that prices per-batch
    // admission at ingest time.
    def admDelta = spark.range(nD, nD + 5000).select(
      col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(24)),
        i => concat(lit("w"), pmod(xxhash64(
          when(pmod(col("id"), lit(2)) === 0,
            pmod((col("id") - nD) * 100, lit(nD)))
            .otherwise(col("id")) * 131 + i, lit(7)), lit(5000)))),
        " ").as("text"))
    val admN = time("stream admission (5k delta)") {
      val pairs = graft.streaming.Streams.nearDupAdmissionReplay(
        docs, admDelta, shingleN = 3, numHashes = 12, rowsPerBand = 3,
        threshold = 0.5)
      val n = pairs.filter(col("jaccard") >= 0.999).count()
      keep = keep ++ spark.sparkContext.getPersistentRDDs.keySet
      n
    }
    require(admN >= 2500,
      s"stream admission matched $admN of 2500 planted corpus copies")
    println(s"[canary]   admission exact-dup matches=$admN/2500")

    // stored-index admission at corpus scale (the q215 handoff): the
    // band index + shingle sidecar staged ONCE as bucketed tables — the
    // at-rest cost, amortized over every later ingest batch — then the
    // SAME 5k delta probes the stored tables. The probe leg is the
    // per-batch admission price once the corpus is banded at rest;
    // compare with the end-to-end leg above, which rebuilds the index
    // inside the gate.
    time("stored admission staging (500k)") {
      graft.dedup.Dedup.stageAdmissionIndex(docs, tag = "canary",
        sourceMtime = Long.MaxValue, force = true) // THIS corpus, always
    }
    // forced restage = a new index generation per run; retire history
    // so repeated canary runs don't accumulate 500k-doc generations
    graft.store.Versioned.vacuum("/tmp/graft_admission_canary",
      graft.store.Versioned.latestVersion("/tmp/graft_admission_canary"))
    val admSN = time("stored admission probe (5k delta)") {
      val pairs = graft.streaming.Streams.nearDupAdmissionStoredReplay(
        docs, admDelta, tag = "canary", sourceMtime = 0L,
        shingleN = 3, numHashes = 12, rowsPerBand = 3, threshold = 0.5)
      val n = pairs.filter(col("jaccard") >= 0.999).count()
      keep = keep ++ spark.sparkContext.getPersistentRDDs.keySet
      n
    }
    require(admSN >= 2500,
      s"stored admission matched $admSN of 2500 planted corpus copies")
    println(s"[canary]   stored admission exact-dup matches=$admSN/2500")

    // versioned-store metadata scaling: 60 append commits, a pinned
    // mid-history read, an overwrite + vacuum — all manifest-sized
    // driver ops; the leg bounds the METADATA cost of the commit
    // protocol (the data path is ordinary parquet I/O measured
    // everywhere else).
    val verN = time("versioned store (60 commits)") {
      val root = graft.util.TempDirs.scratch("canary_versioned")
      (1 to 60).foreach { i =>
        graft.store.Versioned.commitAppend(
          spark.range((i - 1) * 1000L, i * 1000L)
            .select(col("id"), (col("id") * 7).as("v")), root)
      }
      val mid = graft.store.Versioned.read(spark, root, 30).count()
      require(mid == 30000L, s"v30 snapshot has $mid rows, want 30000")
      graft.store.Versioned.commitOverwrite(
        graft.store.Versioned.read(spark, root).repartition(4), root)
      val (nDel, _) = graft.store.Versioned.vacuum(root, 61L)
      require(nDel > 0, "vacuum reclaimed nothing after overwrite")
      val n = graft.store.Versioned.read(spark, root).count()
      keep = keep ++ spark.sparkContext.getPersistentRDDs.keySet
      n
    }
    require(verN == 60000L, s"post-vacuum snapshot has $verN rows")
    println(s"[canary]   versioned store rows=$verN after 61 commits + vacuum")

    // z-order + file-level data skipping at 5M rows / 64 files: a
    // two-column box that covers ~1/64 of the value space must plan a
    // small minority of the files from the stats sidecar alone, and the
    // pruned scan must return exactly what the full scan's filter does.
    val zroot = graft.util.TempDirs.scratch("canary_zorder")
    val zN = 5000000L
    val zdf = spark.range(zN).select(
      pmod(col("id") * 2654435761L, lit(4096L)).as("x"),
      pmod(col("id") * 40503L, lit(4096L)).as("y"),
      col("id").as("payload"))
    time("z-order rewrite + stats commit (5M)") {
      graft.store.Versioned.commitOverwrite(
        graft.store.Layout.zorder2(zdf, col("x"), col("y"), nFiles = 64),
        zroot, statsCols = Seq("x", "y"))
    }
    val bounds = Map("x" -> (0L, 511L), "y" -> (0L, 511L))
    val (zKept, zTotal) =
      graft.store.Versioned.prunedFiles(zroot, bounds)
    require(zTotal == 64L && zKept.size <= 16,
      s"z-order skipping kept ${zKept.size}/$zTotal for a 1/64 box")
    val zPruned = time("pruned box scan (skipped files)") {
      graft.store.Versioned.readPruned(spark, zroot, bounds)
        .filter(col("x") <= 511L && col("y") <= 511L).count()
    }
    val zFull = time("full box scan (no skipping)") {
      graft.store.Versioned.read(spark, zroot)
        .filter(col("x") <= 511L && col("y") <= 511L).count()
    }
    require(zPruned == zFull,
      s"file skipping lost rows: $zPruned != $zFull")
    println(s"[canary]   z-order skipping kept ${zKept.size}/$zTotal " +
      s"files, box rows=$zPruned (pruned == full)")

    // Sidecar-pruned MERGE at 5M rows / 64 files: upserting keys inside
    // ONE z-cell's box must pre-prune the copy-on-write match scan to
    // the sidecar-admitted minority (the whole point — before, the
    // semi-join probe scanned all 64 files' key columns), rewrite only
    // the files that really hold matches, and carry every skipped file
    // verbatim into the new manifest.
    val zParentFiles = graft.store.Versioned.files(zroot)
      .map(p => p.substring(p.indexOf("data/")))
    val updates = zdf.filter(col("x") <= 63L && col("y") <= 63L)
      .select(col("x"), col("y"), (col("payload") + 1000000000L)
        .as("payload"))
      .groupBy("x", "y").agg(max(col("payload")).as("payload"))
    val (mCand, mSkip) = time("merge pre-prune plan (5M)") {
      graft.store.Versioned.pruneMergeScan(updates,
        graft.store.Versioned.snapshot(zroot), Seq("x", "y"))
    }
    require(mCand.size <= 8 && mCand.size + mSkip.size == 64,
      s"merge pre-prune admitted ${mCand.size}/64 files for a 1/64 box")
    val preMergeCount = graft.store.Versioned.read(spark, zroot).count()
    val vm = time("sidecar-pruned merge commit (5M)") {
      graft.store.Versioned.commitMerge(updates, zroot, Seq("x", "y"))
    }
    val postFiles = graft.store.Versioned.files(zroot, vm)
      .map(p => p.substring(p.indexOf("data/"))).toSet
    require(mSkip.forall(postFiles.contains),
      "a sidecar-skipped file was rewritten by the merge")
    val merged = graft.store.Versioned.read(spark, zroot, vm)
    val upCount = updates.count()
    require(merged.filter(col("payload") >= 1000000000L).count()
      == upCount, "merge lost upserted rows")
    println(s"[canary]   merge pre-prune ${mCand.size}/64 candidate " +
      s"files, $upCount keys upserted, skipped files carried verbatim")
    graft.store.Versioned.vacuum(zroot,
      graft.store.Versioned.latestVersion(zroot))

    // Conditional MERGE (the full SQL grammar) at 5M rows: WHEN
    // MATCHED AND s.payload > t.payload THEN UPDATE / WHEN MATCHED
    // THEN DELETE / WHEN NOT MATCHED THEN INSERT, evaluated as ONE
    // outer join + first-clause-wins projection. With no NOT MATCHED
    // BY SOURCE clause the match scan key-prunes through the same
    // sidecars as the canonical upsert (x is bounded to one band, so
    // stats intervals skip the other bands' files), and every skipped
    // file rides into the new manifest verbatim.
    val cParent = graft.store.Versioned.files(zroot)
      .map(p => p.substring(p.indexOf("data/")))
    val box = zdf.filter(col("x") <= 63L && col("y") <= 63L)
      .groupBy("x", "y").agg(max(col("payload")).as("p0"))
    val cSrc = box.select(col("x"), col("y"),
        when(pmod(col("x"), lit(2L)) === 0L,
          col("p0") + 3000000000L)         // newer: update fires
          .otherwise(lit(-1L)).as("payload")) // older: delete fires
      .unionByName(spark.range(1000)
        .select((col("id") % 64L).as("x"), (col("id") + 5000L).as("y"),
          lit(7L).as("payload")))           // new keys: insert fires
    val (cCand, cSkip) = graft.store.Versioned.pruneMergeScan(
      cSrc, graft.store.Versioned.snapshot(zroot), Seq("x", "y"))
    require(cCand.size <= 16 && cCand.size + cSkip.size == cParent.size,
      s"conditional-merge pre-prune admitted ${cCand.size}/" +
        s"${cParent.size} files for an x-band source")
    val preBoxEven = graft.store.Versioned.read(spark, zroot)
      .filter(col("x") <= 63L && col("y") <= 63L &&
        pmod(col("x"), lit(2L)) === 0L).count()
    val mc = graft.store.Versioned.MergeClause
    val vCond = time("conditional merge commit (5M)") {
      graft.store.Versioned.commitMergeConditional(cSrc, zroot,
        Seq("x", "y"),
        matched = Seq(
          mc(Some(col("__s_payload") > col("__t_payload")), "update",
            Seq("payload" -> col("__s_payload"))),
          mc(None, "delete", Nil)),
        notMatched = Seq(mc(None, "insert",
          Seq("x" -> col("__s_x"), "y" -> col("__s_y"),
            "payload" -> col("__s_payload")))),
        notMatchedBySource = Nil)
    }
    val condFiles = graft.store.Versioned.files(zroot, vCond)
      .map(p => p.substring(p.indexOf("data/"))).toSet
    require(cSkip.forall(condFiles.contains),
      "a sidecar-skipped file was rewritten by the conditional merge")
    val condRead = graft.store.Versioned.read(spark, zroot, vCond)
    require(condRead.filter(col("x") <= 63L && col("y") <= 63L &&
        pmod(col("x"), lit(2L)) === 1L).count() == 0L,
      "matched-DELETE rows survived the conditional merge")
    val updatedN = condRead.filter(col("payload") >= 3000000000L).count()
    require(updatedN == preBoxEven,
      s"conditional update rewrote $updatedN rows, expected $preBoxEven")
    require(condRead.filter(col("y") >= 5000L).count() == 1000L,
      "conditional-merge inserts lost")
    println(s"[canary]   conditional merge ${cCand.size}/" +
      s"${cParent.size} candidate files, $preBoxEven updated, " +
      "odd-x box deleted, 1000 inserted")
    graft.store.Versioned.vacuum(zroot,
      graft.store.Versioned.latestVersion(zroot))

    // Deletion vectors + merge-on-read at 5M rows: THE delete/upsert
    // economics this store exists for. A bounded-predicate DV delete
    // tombstones only matching row positions — zero data rewrites, and
    // the tombstone sidecar prices in KILOBYTES against the table's
    // tens of MB; a MOR upsert then tombstones its matched keys and
    // appends the updates, again rewriting nothing. metadataCount
    // stays exact (stats counts minus tombstone footers) and the
    // change feed replays the whole chain as exact delete+insert sets.
    val vBeforeDv = graft.store.Versioned.latestVersion(zroot)
    val preDvCount = graft.store.Versioned.metadataCount(zroot)
      .getOrElse(graft.store.Versioned.read(spark, zroot).count())
    // ~5k GDPR-shaped row deletes scattered across ALL 64 files — the
    // worst layout for copy-on-write (every file rewrites) and the
    // best showcase for tombstones (kilobytes, zero rewrites)
    val dvPred = pmod(col("payload"), lit(1000L)) === 0L
    val dvMatched = graft.store.Versioned.read(spark, zroot)
      .filter(dvPred).count()
    val filesBeforeDv = graft.store.Versioned.files(zroot).toSet
    time("dv delete (5M, bounded pred)") {
      graft.store.Versioned.commitDeleteVectors(spark, zroot, dvPred)
    }
    val dvEntries = graft.store.Versioned.files(zroot)
      .filterNot(filesBeforeDv)
    require(dvEntries.nonEmpty && dvEntries.forall(_.contains("/dv/")),
      "dv delete must add only tombstone files")
    require(dvEntries.size == 1,
      s"a DV commit stages ONE tombstone file (repartitioned), " +
        s"got ${dvEntries.size} - near-empty per-scan-task sidecars " +
        "are manifest + footer-open cost at 100x commit rates")
    val dvBytes = dvEntries.map(p => new java.io.File(
      new org.apache.hadoop.fs.Path(p).toUri.getPath).length).sum
    require(dvBytes < (256L << 10),
      s"tombstone sidecar should price in KB, got $dvBytes bytes")
    val postDvCount = graft.store.Versioned.metadataCount(zroot)
      .getOrElse(-1L)
    require(postDvCount == preDvCount - dvMatched,
      s"metadata count drifted: $postDvCount != $preDvCount - $dvMatched")
    // ~5k unique-key upserts, again scattered over every file: the
    // update relocates each row's x by +8192 so application is visible
    val morUpdates = zdf
      .filter(pmod(col("payload"), lit(997L)) === 0L)
      .select((col("x") + 8192L).as("x"), col("y"), col("payload"))
    val morKeys = morUpdates.count()
    // upsert semantics: EVERY live row sharing a matched key
    // tombstones, ONE row per key appends (payload is unique here, so
    // only dv-deleted keys differ between matched and proposed)
    val morMatchedLive = graft.store.Versioned.read(spark, zroot)
      .join(morUpdates.select("payload"), Seq("payload"), "left_semi")
      .count()
    val filesBeforeMor = graft.store.Versioned.files(zroot).toSet
    val vMor = time("merge-on-read upsert (5M)") {
      graft.store.Versioned.commitMergeOnRead(morUpdates, zroot,
        Seq("payload"))
    }
    require(filesBeforeMor.subsetOf(
      graft.store.Versioned.files(zroot, vMor).toSet),
      "MOR upsert rewrote an existing file")
    val morApplied = graft.store.Versioned.read(spark, zroot, vMor)
      .filter(col("x") >= 8192L).count()
    require(morApplied == morKeys,
      s"MOR upsert applied $morApplied of $morKeys keys")
    val feed = time("change feed over dv+mor chain (5M)") {
      graft.store.Versioned
        .readChangeFeed(spark, zroot, vBeforeDv, vMor)
        .groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    require(feed("delete") == dvMatched + morMatchedLive &&
      feed("insert") == morKeys,
      s"change feed drifted: $feed vs del=$dvMatched+$morMatchedLive " +
        s"ins=$morKeys")
    val vPurge = time("purge deletion vectors (5M)") {
      graft.store.Versioned.commitPurgeDeleteVectors(spark, zroot)
    }
    require(graft.store.Versioned.files(zroot, vPurge)
      .forall(!_.contains("/dv/")), "purge left tombstones behind")
    val finalCount = graft.store.Versioned.read(spark, zroot).count()
    require(finalCount ==
      preDvCount - dvMatched - morMatchedLive + morKeys,
      s"post-purge count drifted: $finalCount vs $preDvCount - " +
        s"$dvMatched - $morMatchedLive + $morKeys")
    println(s"[canary]   dv delete $dvMatched rows as $dvBytes tombstone" +
      s" bytes (0 rewrites), MOR upsert $morKeys keys, purge clean")
    graft.store.Versioned.vacuum(zroot,
      graft.store.Versioned.latestVersion(zroot))

    // Partitioned layout at 5M rows / 32 day-partitions: a day probe
    // plans ~1/32 of the files with ZERO sidecar bytes read (the path
    // IS the metadata), and a replaceWhere backfill of one day leaves
    // every other partition's files in the manifest by reference —
    // the two invariants that make partition layout THE first-order
    // skip at 100 TB.
    val proot = java.nio.file.Files
      .createTempDirectory("graft_canary_part").toString + "/t"
    val pdf = spark.range(nE).select(col("id").as("k"),
      pmod(xxhash64(col("id"), lit(9)), lit(32)).as("day"),
      (col("id") * 7L).as("m"))
    time("partitioned commit (5M)") {
      graft.store.Versioned.commitAppend(pdf, proot,
        partitionBy = Seq("day"))
    }
    val (pKept, pTotal) = time("partition prune (1/32)") {
      graft.store.Versioned.prunedFiles(proot, Map("day" -> (17L, 17L)))
    }
    require(pKept.size * 16 <= pTotal,
      s"day probe admitted ${pKept.size} of $pTotal files")
    val day17Before = graft.store.Versioned.readPruned(spark, proot,
      Map("day" -> (17L, 17L))).filter(col("day") === 17L).count()
    val pOthers = graft.store.Versioned.files(proot, 1L)
      .filterNot(_.contains("__pi_day=17")).toSet
    val pRepl = spark.range(1000L).select(
      (col("id") + 10000000L).as("k"), lit(17L).as("day"),
      lit(0L).as("m"))
    val vRw = time("replaceWhere one day (5M)") {
      graft.store.Versioned.commitReplaceWhere(pRepl, proot,
        col("day") === 17L, partitionBy = Seq("day"))
    }
    require(pOthers.subsetOf(
      graft.store.Versioned.files(proot, vRw).toSet),
      "replaceWhere rewrote untouched partitions")
    val day17After = graft.store.Versioned.read(spark, proot)
      .filter(col("day") === 17L).count()
    require(day17After == 1000L,
      s"replaced day carries $day17After rows, expected 1000")
    val pTotalRows = graft.store.Versioned.read(spark, proot).count()
    require(pTotalRows == nE - day17Before + 1000L,
      s"post-replace count drifted: $pTotalRows vs " +
        s"$nE - $day17Before + 1000")
    println(s"[canary]   partition prune ${pKept.size}/$pTotal files, " +
      s"replaceWhere swapped $day17Before -> 1000 rows, others by ref")
    graft.store.Versioned.vacuum(proot,
      graft.store.Versioned.latestVersion(proot))

    // Gopher quality rules at 500k docs: one scan-fused integer
    // projection — the rule pass prices at scan throughput. The
    // synthetic w-token corpus fails the stop rule by design, so the
    // keep count doubles as a correctness pin.
    val gq = time("gopher rules (500k)") {
      graft.text.Quality.gopherRules(docs)
        .agg(count(lit(1)).as("n"), sum(col("keep")).as("k")).first()
    }
    require(gq.getLong(0) == nD, s"gopher scanned ${gq.getLong(0)} of $nD")
    require(gq.getLong(1) == 0L, "w-token corpus cannot pass the stop rule")
    println(s"[canary]   gopher rules keep=${gq.getLong(1)}/$nD")

    // DSIR importance weights at 500k docs: the ratio table is
    // vocabulary-sized (5k synthetic tokens) and broadcasts back — the
    // corpus pays two token-keyed aggs plus one broadcast join, never
    // a corpus-sized model shuffle.
    val dsirMax = time("dsir weights (500k)") {
      val r = graft.ml.Dsir.importanceWeights(docs,
          pmod(col("doc_id"), lit(10)) === 0)
        .agg(count(lit(1)).as("n"), max(col("weight_p6")).as("m")).first()
      require(r.getLong(0) == nD, s"dsir weighted ${r.getLong(0)} of $nD")
      r.getLong(1)
    }
    println(s"[canary]   dsir max weight_p6=$dsirMax")

    // LogReg 3-iteration fit at 500k rows + grouped AUC of the learned
    // score: each GD iteration is one map-side-combinable agg pass;
    // the evaluation is one group-keyed window + hash agg. y follows
    // x1 > 0.5 on 75% of rows (hash noise on the rest), so the learned
    // monotone score must beat random in EVERY group — a correctness
    // pin on the whole fit → score → evaluate chain at scale.
    val feats = spark.range(nD).select(col("id"),
        pmod(xxhash64(col("id"), lit(7)), lit(1000000L)).as("x1"),
        when(pmod(xxhash64(col("id"), lit(8)), lit(4)) =!= 0,
          (pmod(xxhash64(col("id"), lit(7)), lit(1000000L)) > 500000L)
            .cast("long"))
          .otherwise(pmod(xxhash64(col("id"), lit(9)), lit(2)))
          .as("y"),
        pmod(col("id"), lit(16)).as("g"))
      .localCheckpoint()
    val aucRow = time("logreg fit + auc (500k)") {
      val w = graft.ml.LogReg.fit(feats, Seq("x1"), "y", iters = 3,
        lr = 1.0)
      val scored = feats.select(col("g"),
        graft.ml.LogReg.probMicros(w, Seq("x1")).as("p"), col("y"))
      graft.ml.Eval.groupedAuc(scored, "g", "p", "y")
        .agg(min(col("auc_micros")).as("lo"),
          max(col("auc_micros")).as("hi"), count(lit(1)).as("n")).first()
    }
    require(aucRow.getLong(2) == 16L,
      s"auc groups=${aucRow.getLong(2)}, want 16")
    require(aucRow.getLong(0) > 600000L,
      s"learned score must beat random everywhere: min auc=${aucRow.getLong(0)}")
    println(s"[canary]   logreg auc range=[${aucRow.getLong(0)}, " +
      s"${aucRow.getLong(1)}] micros over 16 groups")

    // Two synchronized Louvain rounds on the 5M-edge skew graph: per
    // round ~6 keyed shuffles over the 10M-row both-orientation list;
    // the correctness pin is structural — every vertex labeled exactly
    // once and real consolidation happened (communities << vertices).
    val louv = time("louvain (2 rounds, 5M edges)") {
      val lab = graft.graph.Louvain.run(
        edges.select(col("src"), col("dst"))
          .filter(col("src") =!= col("dst")).distinct(), rounds = 2)
      val r = lab.agg(count(lit(1)).as("n"),
        countDistinct(col("lab")).as("c")).first()
      keep = keep ++ spark.sparkContext.getPersistentRDDs.keySet
      (r.getLong(0), r.getLong(1))
    }
    require(louv._2 < louv._1 / 2,
      s"louvain did not consolidate: ${louv._2} communities of ${louv._1}")
    println(s"[canary]   louvain vertices=${louv._1} communities=${louv._2}")

    // Batched IVF probe + planted recall at 500k vectors: queries are
    // the ORIGINALS of ten planted perturbed copies (id%100==1 copies
    // id-1 + 0.01 nudge), so ground truth per query contains its copy
    // at cosine ~1. The probe must recover >= 8/10 copies in top-10 at
    // nprobe=4/16 — a recall floor the random-vector tail can't game.
    val rec = time("ivf batched recall (500k)") {
      val idx = graft.ml.Ivf.build(emb, k = 16, iters = 2)
      val qids = (0 until 10).map(i => (i * 100).toLong) // originals
      val queries = emb.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val top = graft.ml.Ivf.topKBatch(idx, queries, k = 10, nprobe = 4)
      val hits = top.filter(col("vec_id") === col("qid") + 1).count()
      keep = keep ++ spark.sparkContext.getPersistentRDDs.keySet
      hits
    }
    require(rec >= 8, s"planted-copy recall $rec/10 below floor 8")
    println(s"[canary]   ivf batched probe planted-copy recall=$rec/10")

    // Residual IVF-PQ (full IVFADC) at 500k: codebooks trained on
    // RESIDUALS (vector − coarse centroid), probe scored by the
    // cluster-keyed ADC tables. The planted perturbed copy (+0.01 at
    // id+1) must survive coarse pruning AND residual quantization into
    // the top-10 — the same ground-truth floor as the raw-PQ leg, now
    // through the accuracy-preferred composition.
    val resTop = time("ivf-pq residual train+probe (500k)") {
      val rq = emb.filter(col("vec_id") === 100)
        .select("embedding").first().getSeq[Float](0)
      val idx = graft.ml.Ivf.build(emb, k = 16, iters = 2)
      val resBooks = graft.ml.Pq.collectBooks(
        graft.ml.Pq.train(graft.ml.Pq.residuals(idx), m = 8, k = 16,
          iters = 2, vecCol = "res"), m = 8)
      val top = graft.ml.Pq.ivfPqResidualTopK(idx, resBooks, rq, 10,
          nprobe = 4, subDim = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      keep = keep ++ spark.sparkContext.getPersistentRDDs.keySet
      top
    }
    require(resTop.contains(100L) && resTop.contains(101L),
      s"residual ivf-pq lost the planted copy: $resTop")
    println(s"[canary]   ivf-pq residual top10 has 100+101=" +
      s"${resTop.contains(100L) && resTop.contains(101L)}")

    spark.stop()
  }
}
