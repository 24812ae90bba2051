package graft

import org.apache.spark.sql.functions._

/** Library usage sample: one crawl pass against a stubbed site, then a
  * multimodal decode batch — the package-boundary walkthrough of the
  * non-query surfaces. Run: `sbt "runMain graft.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    import spark.implicits._

    // --- crawl pass over a two-page stub site -------------------------
    val site = Map(
      "http://a.com/" -> ("<html><head><title>Page A</title></head><body>" +
        "<a href=\"/next.html\">n</a><a href=\"http://b.com/\">b</a>" +
        " alpha body</body></html>"),
      "http://b.com/" -> ("<html><head><title>Page B</title></head><body>" +
        "<a href=\"http://a.com/\">back</a> beta body</body></html>"))
    val seeds = Seq(("http://a.com/", 0L), ("http://b.com/", 0L))
      .toDF("url", "retrieved_at")
    val r = graft.api.Engine.crawlPass(seeds,
      graft.crawl.Crawl.TableUrlGetter(site), staleBefore = 1L, now = 42L)
    println("== links"); r.links.orderBy("url").show(10, false)
    println("== edges"); r.edges.orderBy("src").show(10, false)
    println("== documents")
    r.documents.select("url", "title", "content").orderBy("url")
      .show(10, false)

    // --- crawl LOOP: ProcessingTime cadence + versioned index ---------
    // each trigger firing runs one pass and overwrite-commits the index
    // snapshot — "the index after pass k" is a pinned version number
    val loopSite = site + ("http://c.com/" ->
      "<html><head><title>Page C</title></head><body>gamma</body></html>")
    val vroot = graft.util.TempDirs.scratch("demo_crawl_versions")
    val latest = graft.streaming.Streams.crawlLoopVersioned(seeds,
      graft.crawl.Crawl.TableUrlGetter(loopSite +
        ("http://a.com/" -> (loopSite("http://a.com/")
          .replace("</body>", "<a href=\"http://c.com/\">c</a></body>"))),
      ), vroot, passes = 2)
    println(s"== crawl loop: $latest versioned passes")
    (1L to latest).foreach { v =>
      val urls = graft.store.Versioned.read(spark, vroot, v)
        .select("url").orderBy("url").collect().map(_.getString(0))
      println(s"   index@v$v: ${urls.mkString(", ")}")
    }

    // --- rank the crawled graph and write scores back -----------------
    val pr = graft.api.Engine.pageRankPass(
      r.links.select(col("id")), r.edges)
    println(s"== pagerank over crawl graph (iters=${pr.iterations})")
    graft.api.Engine.writeScores(
        r.documents.select(md5(col("url")).as("doc_id"), col("title")),
        pr.scores.select(col("id").as("doc_id"), col("score")))
      .orderBy(desc("final_score")).show(5, false)

    // --- multimodal decode batch --------------------------------------
    val media = Seq(
      (1L, "image", "imagebytes-0001".getBytes("UTF-8")),
      (2L, "video", "videobytes-0002-yyy".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    println("== media features")
    graft.multimodal.Multimodal.decodeAndFeaturize(media)
      .select("media_id", "kind", "n_bytes", "width", "height",
        "duration_ms").show(false)
    println("== sampled frames: " +
      graft.multimodal.Multimodal.sampleFrames(media, 60000).count())
    println("== resized to 256x256 box")
    graft.multimodal.Multimodal.resize(media, 256, 256)
      .select(col("media_id"), col("width"), col("height"),
        octet_length(col("payload")).as("n_bytes")).show(false)

    // --- full search read path over the real documents table ----------
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val priors = docs.select(col("doc_id"),
      (col("n_chars") / 1000.0).as("prior"))
    val page = graft.api.Engine.search(docs, priors,
      "spark join window", offset = 0, size = 5)
    println(s"== search 'spark join window': total=${page.total}")
    page.rows.select("rn", "doc_id", "blended").show(false)
    val phrase = graft.api.Engine.search(docs, priors,
      "\"join batch\"", offset = 0, size = 3)
    println(s"== phrase \"join batch\": total=${phrase.total}")
    phrase.rows.select("rn", "doc_id").show(false)

    // --- multi-field search over the crawl output ---------------------
    // the crawl's own documents (title + content) searched the way the
    // reference queries ES: fields [Title, Content], title boosted
    val crawlDocs = r.documents.select(col("url").as("doc_id"),
      col("title"), col("content"))
    println("== multi-field 'alpha' over crawl docs (title 2x)")
    graft.search.Search.matchScoresFields(crawlDocs, Seq("alpha"),
      Seq("title" -> 2.0, "content" -> 1.0), idCol = "doc_id")
      .orderBy(desc("score")).show(false)

    // --- positional phrase through punctuation ------------------------
    val punct = Seq((1L, "we join, batch it"), (2L, "batch join"))
      .toDF("doc_id", "text")
    println("== positional phrase 'join batch' (strict analyzer): " +
      graft.search.Search.phraseMatchPositional(punct, "join batch",
        analyzer = graft.text.Analyzer.tokenizeStrict)
        .select("doc_id").as[Long].collect().mkString(","))

    // --- IVF ANN over the real embeddings -----------------------------
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qv = emb.filter(col("vec_id") === 7).select("embedding")
      .as[Seq[Float]].head()
    val idx = graft.ml.Ivf.build(emb, k = 8, iters = 3)
    println("== ivf top-5 around vec 7 (nprobe=2)")
    graft.ml.Ivf.topK(idx, qv, 5, nprobe = 2).show(false)

    // --- shortest paths with reconstruction ---------------------------
    val es = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 5L))
      .toDF("src", "dst", "w")
    val st = graft.graph.ShortestPath.state(es, "a", maxHops = 4)
    println("== shortest path a->c: " +
      graft.graph.ShortestPath.pathTo(st, "c", 4).mkString)

    // --- pipeline carving: sample, split, scrub, sketch ----------------
    val carved = graft.operators.Sampling.stratifiedHashSample(docs,
        col("doc_id").cast("string"), col("lang"),
        rates = Map("en" -> 50), defaultNum = 20)
      .withColumn("split", graft.operators.Sampling.splitLabel(
        col("doc_id").cast("string"), 80, 10))
      .withColumn("clean", graft.text.TextStats.scrubPii(col("text")))
    println("== stratified sample + split")
    carved.groupBy("split").count().orderBy("split").show(false)
    println("== kmv distinct texts (k=256)")
    graft.sketch.Sketches.kmvDistinct(docs, col("text"), 256).show(false)
    println("== count-min probe of 'spark'")
    graft.sketch.Sketches.countMinEstimate(
      docs.select(explode(graft.text.Analyzer.tokenize(col("text")))
        .as("term")), col("term"), Seq("spark"), d = 4, w = 1024)
      .show(false)
    println("== winnowed fingerprints per doc (first 3 docs)")
    graft.dedup.Dedup.winnow(docs).groupBy("doc_id").count()
      .orderBy("doc_id").show(3, false)

    // --- training-set assembly: filter, decontaminate, pack -----------
    println("== repetition + unigram-NLL quality signals (first 3 docs)")
    graft.text.TextStats.repetitionSignals(docs)
      .join(graft.text.TextStats.unigramNll(docs), "doc_id")
      .orderBy("doc_id").show(3, false)
    println("== decontaminate vs eval split (docs sharing 3-grams)")
    graft.dedup.Dedup.decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), n = 3)
      .orderBy(col("shared_ngrams").desc).show(3, false)
    println("== pack into 512-token sequences (first 5 docs)")
    graft.text.Pack.packedOffsets(docs, budget = 512)
      .orderBy("doc_id").show(5, false)
    println("== sliding 16/8 token chunks of doc 0")
    graft.text.Pack.tokenChunks(docs.filter(col("doc_id") === 0),
      size = 16, stride = 8).show(false)

    // --- hybrid retrieval, exact near-dup join, semantic dedup ---------
    println("== hybrid RRF: BM25 top-20 fused with cosine top-20")
    val bmR = graft.search.Search.rankedTopN(
      graft.search.Search.bm25Scores(docs, Seq("spark", "join"))
        .select(col("doc_id"), graft.util.Exact.micros(col("score")).as("m")),
      "m", 20)
    val cosR = graft.search.Search.rankedTopN(
      emb.select(col("vec_id").as("doc_id"), graft.util.Exact.micros(
        graft.ml.Similarity.cosine(col("embedding"),
          array(qv.map(lit(_)): _*))).as("m")),
      "m", 20)
    graft.search.Search.rrfFuse(Seq(
        bmR.select("doc_id", "rank"), cosR.select("doc_id", "rank")))
      .orderBy(col("rrf").desc, col("doc_id")).show(5, false)

    println("== exact PPJoin similarity pairs (jaccard >= 0.5)")
    graft.dedup.Dedup.prefixFilterJoin(docs, shingleN = 3,
      threshold = 0.5).orderBy("a", "b").show(3, false)

    println("== SemDedup keep/drop over embedding clusters")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    graft.ml.SemDedup.prune(emb, cents, minCos = 0.85)
      .groupBy("keep").count().show(false)

    // --- graph structure: k-core, clustering, personalized rank --------
    println("== k-core of the order-part graph (k=4): survivors")
    val opEdges = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst")).distinct()
    println("   " + graft.graph.KCore.run(opEdges, k = 4, rounds = 8)
      .count() + " vertices survive")

    // --- warehouse ops: funnel, SCD2, z-order ---------------------------
    println("== view->click->purchase funnel (first 3 users)")
    val ev = Tables.events(spark, "/root/testdata/sf0.001").select(col("user_id"),
      col("event_type"), expr("ts div 1000").as("ts_us"))
    graft.operators.Funnel.conversion(ev,
        Seq("view", "click", "purchase"))
      .orderBy("user_id").show(3, false)
    println("== z-order layout: first z-buckets of (user, hour)")
    Tables.events(spark, "/root/testdata/sf0.001")
      .select((col("user_id") % 256).as("ux"),
        (expr("(ts div 1000) div 3600000000") % 256).as("th"))
      .withColumn("z", graft.operators.Layout.zValue(
        Seq(col("ux"), col("th")), bits = 8))
      .orderBy("z").show(3, false)

    // --- communities, sketch suite, tokenizer training ----------------
    println("== label-propagation communities (largest 3)")
    graft.graph.Communities.labelPropagation(opEdges, rounds = 3)
      .groupBy("community").count()
      .orderBy(col("count").desc, col("community")).show(3, false)

    println("== sketch suite on one column: HLL / KMV / DDSketch")
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    graft.sketch.Sketches.hllDistinct(li,
      concat_ws("|", col("l_orderkey"), col("l_partkey")), p = 10).show(false)
    graft.sketch.Sketches.ddQuantiles(li, col("l_extendedprice"),
      alpha = 0.01, pcts = Seq(50, 95)).show(false)

    println("== bloom runtime filter: orders passing a customer-segment filter")
    val bCust = Tables.customer(spark, "/root/testdata/sf0.001")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val bBits = graft.operators.RuntimeFilter.bloomBits(
      bCust, col("k"), k = 3, mBits = 4096)
    println("   pass=" + graft.operators.RuntimeFilter.probe(
      Tables.orders(spark, "/root/testdata/sf0.001"), col("o_custkey"),
      bBits, k = 3, mBits = 4096).count())

    println("== BPE merges learned from the documents corpus")
    graft.text.Bpe.learnMerges(
        Tables.documents(spark, "/root/testdata/sf0.001"), "text", 4)
      .foreach { case (r, a, b, f) => println(s"   #$r: '$a'+'$b' ($f)") }

    // --- session-2 additions: ranges, similarity, recsys, features ----
    println("== range join: points into containing intervals (bucketed)")
    val demoPts = Seq((1L, 5L, "p1"), (1L, 42L, "p2"), (2L, 7L, "p3"))
      .toDF("k", "t", "name")
    val demoIvs = Seq((1L, 0L, 10L, "early"), (1L, 40L, 50L, "late"),
      (2L, 0L, 3L, "miss")).toDF("k", "lo", "hi", "tag")
    graft.operators.RangeJoin.pointInInterval(demoPts, demoIvs,
      Seq("k"), "t", "lo", "hi", bucketWidth = 8L).show(false)

    println("== sparse TF-IDF cosine pairs (df-capped, no embeddings)")
    graft.ml.SparseSim.tfidfCosinePairs(
        Tables.documents(spark, "/root/testdata/sf0.001"),
        maxDf = 25, minCosMicros = 0L)
      .orderBy(desc("cos"), col("id_a"), col("id_b")).show(3, false)

    println("== adamic-adar co-purchase recommendations")
    graft.graph.LinkPrediction.adamicAdar(
      Tables.lineitem(spark, "/root/testdata/sf0.001")
        .select(col("l_orderkey").as("mid"), col("l_partkey").as("item"))
        .distinct(), maxMidDegree = 40, topN = 3).show(false)

    println("== weighted pagerank (mass splits by quantity)")
    val wEdges = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(sum("l_quantity").cast("long").as("w"))
      .select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"), col("w"))
    val wVerts = wEdges.select(col("src").as("id"))
      .unionAll(wEdges.select(col("dst"))).distinct()
    println("   iters=" + graft.graph.PageRank.run(wVerts, wEdges,
      maxIter = 5, stopTol = None, weightCol = Some("w")).iterations)

    println("== user-programmable BSP: BFS hop-depth via graph.Iterate")
    val bfsEdges = wEdges.select("src", "dst")
      .unionAll(wEdges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(false)
    val bfsSrc = bfsEdges.agg(min("src")).head().getLong(0)
    val bfsInit = bfsEdges.select(col("src").as("id"))
      .unionAll(bfsEdges.select(col("dst"))).distinct()
      .withColumn("depth",
        when(col("id") === bfsSrc, 0L).otherwise(lit(null)))
      .localCheckpoint(false)
    graft.graph.Iterate.run(
        bfsInit,
        sendMsg = f => f.filter(col("depth").isNotNull)
          .join(bfsEdges, col("id") === col("src"))
          .select(col("dst").as("id"), (col("depth") + 1L).as("cand")),
        mergeMsg = _.groupBy("id").agg(min("cand").as("cand")),
        vprog = (st, m) => st.join(m, Seq("id"), "left")
          .select(col("id"), coalesce(col("depth"), col("cand")).as("depth"),
            (col("depth").isNull && col("cand").isNotNull).as("changed")),
        maxRounds = 10)
      .state.groupBy("depth").count().orderBy("depth").show(5, false)

    println("== feature passes: z-score / quartile bins / MAD outliers")
    val demoDocs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.operators.Stats.zscore(demoDocs, Seq("lang"), col("n_chars"))
      .orderBy("doc_id").show(3, false)
    graft.operators.Stats.quantileBuckets(demoDocs.drop("lang"),
      "n_chars", Seq(0.25, 0.5, 0.75)).orderBy("doc_id").show(3, false)
    println("   outliers=" + graft.operators.Stats.madOutliers(
      demoDocs, Seq("lang"), "n_chars").filter(col("is_outlier")).count())

    println("== time-series gap fill (dense daily series per user)")
    graft.operators.TimeSeries.gapFill(
        Tables.events(spark, "/root/testdata/sf0.001")
          .groupBy(col("user_id"),
            expr("(ts div 1000) div 86400000000").as("day"))
          .agg(count(lit(1)).as("n")),
        Seq("user_id"), "day", fill = Map("n" -> lit(0L)))
      .orderBy("user_id", "day").show(5, false)

    println("== kmv set algebra: union/intersection from sketches alone")
    val demoCorpus = Tables.documents(spark, "/root/testdata/sf0.001")
    graft.sketch.Sketches.kmvSetOps(
      demoCorpus.filter(col("doc_id") % 2 === 0),
      demoCorpus.filter(col("doc_id") % 2 === 1),
      col("text"), k = 128).show(false)

    println("== anchor-text votes per target URL")
    val demoPages = Seq(("http://x.example/p",
      "<html><body><a href=\"/t\">great docs</a>" +
        "<a href=\"/t\">docs</a></body></html>"))
      .toDF("page_url", "html")
    demoPages.select(explode(graft.text.Html.anchorTextsUdf(
        col("html"), col("page_url"))).as("a"))
      .groupBy("a.url").agg(count(lit(1)).as("votes"),
        array_join(array_sort(collect_set(lower(col("a.anchor")))), " ")
          .as("terms")).show(false)

    println("== hits hubs/authorities (exact-integer power iteration)")
    val demoEdges = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst")).distinct()
    graft.graph.Hits.run(demoEdges, iters = 3)
      .orderBy(col("auth").desc).show(3, false)

    println("== scc on a cyclic quotient graph")
    val demoDi = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .filter(col("l_linenumber") === 1)
      .select((col("l_orderkey") % 600).as("src"),
        (col("l_partkey") % 600).as("dst"))
    graft.graph.Scc.run(demoDi)
      .groupBy("scc").agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc).show(3, false)

    println("== hyperball neighborhood function / random-walk corpus")
    val demoSym = demoEdges.unionAll(demoEdges.select(
      col("dst").as("src"), col("src").as("dst")))
    graft.graph.HyperBall.run(demoSym, p = 5, hops = 2).show(false)
    graft.graph.RandomWalk.walks(demoSym, steps = 3, seed = "demo")
      .filter(col("start") === 2).orderBy("step").show(false)

    println("== trigram wildcard search + record linkage + key skew")
    println("   '%merge part%' docs=" + graft.search.Trigram
      .wildcardSearch(demoCorpus, "doc_id", "text", "merge part").count())
    graft.operators.RecordLinkage.fellegiSunter(
        demoCorpus, "doc_id", Seq("lang"),
        Seq("source" -> col("source"),
          "lenb" -> floor(col("n_chars") / lit(100)).cast("long"),
          "pre" -> substring(lower(col("text")), 1, 40)),
        thresholdMicros = 4000000L)
      .orderBy("id_a").show(3, false)
    graft.operators.Profile.keySkew(
      Tables.lineitem(spark, "/root/testdata/sf0.001"), "l_partkey", 5)
      .show(false)

    println("== peak shipment concurrency per supplier (sweep line)")
    graft.operators.TimeSeries.peakConcurrency(
        Tables.lineitem(spark, "/root/testdata/sf0.001").select(
          col("l_suppkey").as("k"),
          expr("unix_micros(cast(l_shipdate as timestamp))").as("t0"),
          (expr("unix_micros(cast(l_shipdate as timestamp))") +
            col("l_quantity").cast("long") * 86400000000L).as("t1")),
        Seq("k"), "t0", "t1")
      .orderBy(col("peak").desc).show(3, false)

    println("== event analytics: funnel / attribution / CDC history")
    val demoDir = "/root/testdata/sf0.001"
    SparkEntry.queries("q128_funnel")(spark, demoDir).show(false)
    SparkEntry.queries("q127_attribution")(spark, demoDir).show(false)
    SparkEntry.queries("q129_scd2")(spark, demoDir).show(3, false)

    println("== basket rules / FK audit / seasonal anomalies / profile")
    SparkEntry.queries("q130_assoc_rules")(spark, demoDir).show(3, false)
    SparkEntry.queries("q134_fk_audit")(spark, demoDir).show(false)
    SparkEntry.queries("q135_seasonal_anomaly")(spark, demoDir)
      .show(3, false)
    SparkEntry.queries("q131_column_profile")(spark, demoDir).show(false)

    println("== sketch rollup + containment dedup")
    SparkEntry.queries("q132_hll_rollup")(spark, demoDir).show(5, false)
    SparkEntry.queries("q133_containment")(spark, demoDir).show(3, false)

    println("== TPC-H closing shapes: volume shipping / large orders / " +
      "disjunctive predicates")
    SparkEntry.queries("q160_volume_shipping")(spark, demoDir).show(false)
    SparkEntry.queries("q165_large_orders")(spark, demoDir).show(3, false)
    SparkEntry.queries("q166_disjunctive_rev")(spark, demoDir).show(false)

    println("== exact quantiles without a global sort (global + grouped)")
    SparkEntry.queries("q168_exact_quantiles")(spark, demoDir).show(false)
    SparkEntry.queries("q178_grouped_quantiles")(spark, demoDir)
      .show(4, false)

    println("== embeddings: PCA leading direction / clustering agreement")
    SparkEntry.queries("q169_pca_direction")(spark, demoDir).show(4, false)
    SparkEntry.queries("q177_cluster_ari")(spark, demoDir).show(false)

    println("== graph brokers: landmark betweenness top-5")
    SparkEntry.queries("q173_betweenness")(spark, demoDir).show(5, false)

    println("== item-item collaborative filtering (co-occurrence cosine)")
    SparkEntry.queries("q170_item_cf")(spark, demoDir).show(6, false)

    println("== streaming lateness budget: surviving daily counts")
    SparkEntry.queries("q172_late_drop_stream")(spark, demoDir)
      .show(3, false)

    println("== TPC-H sweep complete: Q4 semi-join / Q13 outer " +
      "distribution / Q15 scalar-max")
    SparkEntry.queries("q180_priority_late")(spark, demoDir).show(false)
    SparkEntry.queries("q184_order_distribution")(spark, demoDir)
      .show(5, false)
    SparkEntry.queries("q185_top_supplier")(spark, demoDir).show(false)

    println("== storage layouts: bucketed zero-exchange join / z-order key")
    SparkEntry.queries("q188_bucketed_join")(spark, demoDir).show(false)
    SparkEntry.queries("q194_zorder_key")(spark, demoDir).show(5, false)

    println("== native sketch aggregates (one-pass, mergeable, SQL-able)")
    SparkEntry.queries("q190_hll_native_grouped")(spark, demoDir)
      .show(false)
    SparkEntry.queries("q195_dd_native_grouped")(spark, demoDir)
      .show(4, false)
    api.Engine.registerTables(spark, demoDir)
    spark.sql("SELECT graft_hll_distinct(l_partkey).est_micros div 1000000" +
      " AS distinct_parts FROM lineitem").show(false)

    println("== pushed-down trillion-row count (closed form, zero rows read)")
    val t0 = System.nanoTime()
    spark.read.format("graft.sources.Synthetic")
      .option("rows", 1000000000000L).option("slices", 32).load()
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")).show(false)
    println(f"   (took ${(System.nanoTime() - t0) / 1e9}%.2f s)")

    println("== temporal reach + butterflies + Kneser-Ney")
    SparkEntry.queries("q192_temporal_reach")(spark, demoDir).show(5, false)
    SparkEntry.queries("q193_butterflies")(spark, demoDir).show(false)
    SparkEntry.queries("q187_kneser_ney")(spark, demoDir).show(4, false)

    // ---- the curation loop: score -> learn -> calibrate -> evaluate
    // -> resample -> mix -> diversify, each a driver-checked operator
    println("== gopher quality rules (per-rule accounting + keep)")
    SparkEntry.queries("q223_gopher_rules")(spark, demoDir).show(5, false)
    println("== logreg quality classifier (3 GD iters, exact micros)")
    SparkEntry.queries("q225_logreg_quality")(spark, demoDir)
      .show(5, false)
    println("== calibration bins + per-source ROC-AUC of the scorer")
    SparkEntry.queries("q229_calibration")(spark, demoDir).show(false)
    SparkEntry.queries("q226_auc")(spark, demoDir).show(5, false)
    println("== DSIR importance weights (top target-like docs)")
    SparkEntry.queries("q224_dsir_weights")(spark, demoDir).show(5, false)
    println("== temperature-flattened mixing allocation (tau=0.5)")
    SparkEntry.queries("q230_temperature_mix")(spark, demoDir).show(false)
    println("== MMR-diversified ANN page (lambda=0.7, k=5)")
    SparkEntry.queries("q227_mmr_diverse")(spark, demoDir).show(false)
    println("== IVF recall@10 against brute force (batched probe)")
    SparkEntry.queries("q232_ann_recall")(spark, demoDir).show(false)
    println("== Louvain: 2 move rounds -> contract -> coarse round")
    SparkEntry.queries("q231_louvain_coarse")(spark, demoDir)
      .show(5, false)

    // ---- the store's commit log AS a stream: offsets are versions,
    // micro-batches are committed deltas, sink txns are exactly-once
    println("== versioned store -> stream -> versioned store")
    val pipeIn = graft.util.TempDirs.scratch("demo_pipe_in")
    val pipeOut = graft.util.TempDirs.scratch("demo_pipe_out")
    store.Versioned.commitAppend(
      spark.range(3).select(col("id").as("k")), pipeIn)
    val pipeQ = spark.readStream
      .format("graft.sources.VersionedStream").option("root", pipeIn)
      .load()
      .writeStream.format("graft.sources.VersionedStream")
      .option("root", pipeOut).option("appId", "demo_pipe")
      .option("checkpointLocation",
        graft.util.TempDirs.scratch("demo_pipe_ckpt")).start()
    try {
      pipeQ.processAllAvailable()
      store.Versioned.commitAppend(
        spark.range(3, 5).select(col("id").as("k")), pipeIn)
      pipeQ.processAllAvailable()
    } finally pipeQ.stop()
    println(s"   ${store.Versioned.latestVersion(pipeOut)} replicated " +
      s"commits, ${store.Versioned.read(spark, pipeOut).count()} rows")

    // ---- lifecycle closers: a bad overwrite rolled back by a FORWARD
    // metadata-only RESTORE, and a zero-copy CLONE forked for a
    // throwaway experiment
    println("== restore (metadata-only rollback) + shallow clone")
    store.Versioned.commitOverwrite(
      spark.range(99, 100).select(col("id").as("k")), pipeOut)
    val restored = store.Versioned.commitRestore(pipeOut,
      store.Versioned.latestVersion(pipeOut) - 1)
    val demoClone = graft.util.TempDirs.scratch("demo_clone") + "/t"
    store.Versioned.cloneShallow(pipeOut, demoClone)
    store.Versioned.commitAppend(
      spark.range(100, 103).select(col("id").as("k")), demoClone)
    println(s"   restored v$restored " +
      s"(${store.Versioned.read(spark, pipeOut).count()} rows), clone " +
      s"evolved to ${store.Versioned.read(spark, demoClone).count()} " +
      s"rows, source untouched")

    // ---- z-order + manifest stats: plan only the files a box can hit
    val zroot = graft.util.TempDirs.scratch("demo_zorder")
    store.Versioned.commitOverwrite(
      store.Layout.zorder2(spark.range(4096).select(
        (col("id") % 64L).as("x"), expr("id div 64").as("y")),
        col("x"), col("y"), nFiles = 16),
      zroot, statsCols = Seq("x", "y"))
    val (zk, zt) = store.Versioned.prunedFiles(zroot,
      Map("x" -> (0L, 7L), "y" -> (0L, 7L)))
    println(s"== z-order file skipping: an 8x8 box plans ${zk.size} of " +
      s"$zt files")

    // ---- the same curation operators composed as ONE versioned
    // lineage: every stage reads the previous version from the store
    // and commits the next, so the training corpus is a version number
    println("== versioned curation lineage (raw -> gopher -> score ->")
    println("   gate -> temperature-mix -> semantic-dedup -> train)")
    val lineageRoot = java.nio.file.Files
      .createTempDirectory("graft_demo_lineage").toString + "/corpus"
    val stages = ml.Curation.lineage(spark, demoDir, lineageRoot)
    stages.foreach { s =>
      println(f"   v${s.version}%-2d ${s.name}%-16s ${s.rows}%5d rows")
    }
    val trained = stages.last
    println(s"== the corpus the model trained on is version " +
      s"${trained.version} (${trained.rows} rows) — pinned, " +
      "re-derivable, vacuum-able")
    println("   QA sidecars: calibration v" +
      store.Versioned.latestVersion(lineageRoot + "_qa/calibration") +
      ", MMR showcase v" +
      store.Versioned.latestVersion(lineageRoot + "_qa/showcase"))
    store.Versioned.read(spark, lineageRoot, trained.version)
      .select("doc_id", "source", "p_micros", "shard", "split")
      .orderBy("shard", "pos").show(5, false)

    // merge-on-read row ops: a GDPR-shaped delete tombstones instead
    // of rewriting, the change feed hands downstream consumers the
    // exact row-level diff, and a purge re-optimizes the layout
    println("== deletion vectors + change data feed")
    val dvRoot = java.nio.file.Files
      .createTempDirectory("graft_demo_dv").toString + "/t"
    store.Versioned.commitAppend(
      spark.range(100L).select(col("id").as("user_id"),
        (col("id") * 7 % 100).as("score")), dvRoot)
    val beforeFiles = store.Versioned.files(dvRoot).size
    store.Versioned.commitDeleteVectors(spark, dvRoot,
      col("user_id") % 10 === 3L) // "user 3, 13, 23... asked out"
    println(s"   deleted 10 of 100 rows; data files rewritten: " +
      s"${store.Versioned.files(dvRoot).count(f =>
        !f.contains("/dv/")) - beforeFiles} (tombstones only)")
    store.Versioned.commitMergeOnRead(
      Seq((1L, 999L), (500L, 1L)).toDF("user_id", "score"), dvRoot,
      Seq("user_id"))
    println("   merge-on-read upsert: user 1 updated, user 500 " +
      "inserted, zero rewrites")
    store.Versioned.readChangeFeed(spark, dvRoot, 1L)
      .orderBy("_commit_version", "_change_type", "user_id")
      .show(14, false)
    val purged = store.Versioned.commitPurgeDeleteVectors(spark, dvRoot)
    println(s"   purge folded tombstones into rewritten files at " +
      s"v$purged; live rows=" +
      store.Versioned.read(spark, dvRoot).count())

    // ---- string-key skipping: the reference's canonical identity is
    // the URL string — prefix-key stats + hash blooms let a URL
    // lookup/merge plan a minority of files even though every URL
    // shares the "https://" 8-byte prefix (stats-blind worst case)
    println("== URL-keyed store: string skip keys + cdc merge feed")
    val urlRoot = java.nio.file.Files
      .createTempDirectory("graft_demo_url").toString + "/t"
    (0 until 6).foreach { i =>
      store.Versioned.commitAppend(
        spark.range(40L).select(
          concat(lit(s"https://site$i.example/p"), col("id")).as("url"),
          col("id").as("hits")).coalesce(1),
        urlRoot, statsCols = Seq("url"), bloomCols = Seq("url"))
    }
    val probeUrl = "https://site4.example/p7"
    val (urlKept, urlTotal) = store.Versioned.prunedFiles(urlRoot,
      Map.empty, stringEqualities = Map("url" -> probeUrl))
    println(s"   URL point lookup plans ${urlKept.size} of $urlTotal " +
      "files (full-value hash bloom; prefix stats are blind here)")
    api.Engine.lookupKey(spark, urlRoot, probeUrl).show(1, false)
    // a copy-on-write merge with cdc=true keeps the change feed
    // derivable across the rewrite — the feed reads the exact
    // delete+insert pairs, never the recopied rows
    store.Versioned.commitMerge(
      Seq((probeUrl, 999L), ("https://brand.new/p0", 1L))
        .toDF("url", "hits"),
      urlRoot, Seq("url"), cdc = true)
    store.Versioned.readChangeFeed(spark, urlRoot, 6L)
      .orderBy("_change_type", "url").show(3, false)

    // ---- the store as a Spark data source: plain DataFrame / SQL
    // predicates drive file skipping through Catalyst itself, and
    // hive-style partition columns prune from the path alone
    println("== format(\"graft\"): SQL-native reads + partitioned layout")
    val fmtRoot = java.nio.file.Files
      .createTempDirectory("graft_demo_fmt").toString + "/t"
    spark.range(0L, 400L)
      .select(col("id").as("k"), (col("id") % 8).as("day"),
        (col("id") * 3).as("clicks"))
      .write.format("graft").mode("append")
      .option("partitionBy", "day").option("statsCols", "k")
      .save(fmtRoot)
    val fmt = spark.read.format("graft").load(fmtRoot)
    fmt.createOrReplaceTempView("clicks")
    val day3 = spark.sql("SELECT count(*) AS n, sum(clicks) AS c " +
      "FROM clicks WHERE day = 3")
    val (fmtKept, fmtTotal) = store.Versioned.prunedFiles(fmtRoot,
      Map("day" -> (3L, 3L)))
    println(s"   WHERE day=3 plans ${fmtKept.size} of $fmtTotal files " +
      "straight from the partition paths")
    day3.show(1, false)
    // replaceWhere: re-derive ONE partition atomically (the backfill
    // move) — every other partition persists by reference
    store.Versioned.commitReplaceWhere(
      spark.range(1000L, 1010L).select(col("id").as("k"),
        lit(3L).as("day"), lit(0L).as("clicks")),
      fmtRoot, col("day") === 3L, partitionBy = Seq("day"))
    println("   replaceWhere re-derived day=3: " +
      spark.read.format("graft").load(fmtRoot)
        .filter(col("day") === 3L).count() + " rows now; others " +
      "untouched by reference")

    spark.stop()
  }
}
