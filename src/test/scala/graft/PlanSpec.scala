package graft

import org.apache.spark.sql.functions._

/** Physical-plan regression guards — the properties that make the 100 TB
  * posture real. If one of these breaks, the query still returns correct
  * rows at test scale but degrades catastrophically at cluster scale, so
  * they are asserted, not eyeballed. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("range+time scan pushes every predicate into the parquet scan") {
    val p = planOf("q02_range_time_scan")
    // plan toString elides long filter lists — check the stable prefix
    assert(p.contains("PushedFilters: [IsNotNull(user_id), IsNotNull(ts), " +
      "GreaterThanOrEqual(user_id,40), LessThan(user_id,60)"),
      p.linesIterator.take(30).mkString("\n"))
  }

  test("scans prune to the referenced columns only") {
    val p = planOf("q02_range_time_scan")
    // events has a `props` string column the query never touches
    assert(!p.contains("props"), "props column not pruned")
  }

  test("tf-idf search broadcasts the vocabulary-sized side") {
    val p = planOf("q08_match_search")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "doc-frequency join must broadcast")
  }

  private def servedSearchInputs = {
    val docs = Tables.documents(spark, dir)
    (docs, docs.select(col("doc_id"),
      (col("n_chars") / lit(1000.0d)).as("prior")))
  }

  test("served match search pages without postings or sort-merge joins") {
    val (docs, priors) = servedSearchInputs
    val p = graft.search.Search.search(docs, priors, "spark join window",
      offset = 10).rows.queryExecution.executedPlan.toString
    assert(!p.contains("Generate") && !p.contains("posexplode"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("building a match search runs one small action before the page") {
    val (docs, priors) = servedSearchInputs
    docs.schema // resolve the relation before counting
    val ids = BuildJobs.during(spark, "graft.planspec.search") {
      graft.search.Search.search(docs, priors, "spark join window")
    }
    assert(ids.distinct.size <= 1, s"actions before the page: $ids")
    // the statistics action: the docs scan up to the id shuffle, the
    // priors broadcast and one stage folding the grouped hits
    assert(ids.size <= 3, s"jobs before the page: $ids")
  }

  test("a served match page runs one job over the stored rows, never " +
      "re-scanning the documents") {
    val (docs, priors) = servedSearchInputs
    val page = graft.search.Search.search(docs, priors, "spark join window",
      offset = 10)
    val ids = BuildJobs.during(spark, "graft.planspec.page") {
      page.rows.collect(); ()
    }
    assert(ids.size == 1, s"page jobs: $ids")
    val p = page.rows.queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("top-k queries plan TakeOrderedAndProject, not a global sort") {
    assert(planOf("q18_cosine_topk").contains("TakeOrderedAndProject"))
    assert(planOf("q08_match_search").contains("TakeOrderedAndProject"))
  }

  test("point lookup pushes the key into the scan") {
    val p = planOf("q03_point_lookup")
    assert(p.contains("EqualTo(o_orderkey,42)"), p.linesIterator.take(20).mkString("\n"))
  }

  test("stale-gc pushes the negated predicate to parquet (Or pushdown)") {
    val p = planOf("q06_stale_gc")
    assert(p.contains("PushedFilters: [Or(Not(EqualTo(event_type,error))"),
      p.linesIterator.take(25).mkString("\n"))
  }

  test("as-of join is one window over one shuffle, not a range join") {
    val p = planOf("q33_asof_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("rollup plans a single Expand, not multiple scans") {
    val p = planOf("q34_rollup")
    assert(p.contains("Expand"), p)
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") <= 1)
  }

  test("star join broadcasts both dimensions") {
    val p = planOf("q30_star_join")
    assert(p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") == 2, p)
    assert(!p.contains("SortMergeJoin"))
  }

  test("multi-field search keeps broadcast joins and the top-k plan") {
    val p = planOf("q40_multifield_search")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "per-field document-frequency joins must broadcast")
  }

  test("ivf probe broadcasts centroids — never shuffles the corpus to them") {
    val p = planOf("q41_ivf_probe")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "centroid assignment and cluster probe must broadcast the small side")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("positional phrase never degenerates to a cartesian/range join") {
    val p = planOf("q42_positional_phrase")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "anchor aggregation must stay a single keyed shuffle")
  }

  test("ship priority pushes both date filters and plans top-k") {
    val p = planOf("q46_ship_priority")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // Both date predicates must reach their parquet scans.
    assert(p.contains("GreaterThan(l_shipdate"),
      p.linesIterator.take(40).mkString("\n"))
    assert(p.contains("LessThan(o_orderdate"),
      p.linesIterator.take(40).mkString("\n"))
  }

  test("kmv merge shuffles only the bounded candidate set") {
    val df = SparkEntry.queries("q45_kmv_distinct")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // The bounded per-partition top-k (MapPartitions) must sit in the
    // plan, and nothing may globally sort the raw input — a regression
    // to orderBy().limit() over the full hash stream would plan a
    // range-partitioned Sort/TakeOrdered over the scan.
    assert(p.contains("MapPartitions"),
      "per-partition bounded top-k missing:\n" + p.take(2000))
    assert(!p.contains("rangepartitioning"),
      "global sort of the full input:\n" + p.take(2000))
    assert(df.collect().length == 1)
  }

  test("doc keywords plans WindowGroupLimit, not a full per-group sort") {
    val p = planOf("q53_doc_keywords")
    assert(p.contains("WindowGroupLimit"),
      "rank<=k filter must push a per-partition group limit")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("count-min probe broadcasts the bounded sketch") {
    val p = planOf("q47_countmin_freq")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "the d*w-bounded sketch must broadcast to the probes")
  }

  test("sequence packing windows by partition id — never a global window") {
    val p = planOf("q60_sequence_pack")
    // the scale-killer shape is a Window whose partition spec is empty
    // (single-task running sum); the prefix-sum plan partitions by __pid
    assert(p.contains("windowspecdefinition(__pid"),
      "running sum must be partitioned by __pid: " +
        p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"),
      "per-partition base offsets must broadcast: " + p.take(2000))
  }

  test("token chunking plans no shuffle at all") {
    val chunks = graft.text.Pack.tokenChunks(
      Tables.documents(spark, dir), size = 16, stride = 8)
    val p = chunks.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      "per-row explode must ride the scan stage: " + p.take(2000))
  }

  test("decontamination broadcasts eval grams, never shuffles the corpus") {
    val p = planOf("q59_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "training-side gram stream must not shuffle before the join")
  }

  test("semdedup pair join is cluster-keyed, never a cartesian") {
    val p = planOf("q65_semdedup")
    assert(!p.contains("CartesianProduct"),
      "intra-cluster pairs must join on the cluster key: " + p.take(2000))
  }

  test("duplicate spans broadcast the duplicated-gram set") {
    val p = planOf("q66_duplicate_spans")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("k-core peels restrict edges via semi-joins, no cartesian") {
    // q68's final plan reads a stored generation per round (Ckpt) —
    // pin the per-round shape on the round body itself.
    val li = Tables.lineitem(spark, dir)
      .select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    val und = li.unionAll(li.select(col("dst").as("src"),
      col("src").as("dst")))
    val p = graft.graph.KCore.peelOnce(und, 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"),
      "survivor filtering must be a semi-join: " + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("n-gram continuations prune the rank-1 window with WindowGroupLimit") {
    val p = planOf("q73_ngram_continuations")
    assert(p.contains("WindowGroupLimit"),
      "rn=1 filter must push a per-context group limit: " +
        p.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("label propagation elects by hash-agg, never a per-vertex window") {
    // The argmax is max(struct(cnt, -lab)) — a plain aggregate. A window
    // (rank per vertex) would sort every vertex's vote list per round.
    val p = planOf("q82_label_propagation")
    assert(!p.contains("Window"), "LPA vote argmax must stay a hash-agg")
  }

  test("weighted sample plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q88_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(8)
      .mkString("\n"))
  }

  test("bloom probe runs broadcast semi-joins on the fact side") {
    val p = planOf("q84_bloom_filter_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("fuzzy join blocks on deletion keys — no cartesian, no BNLJ") {
    val p = planOf("q85_fuzzy_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "SymSpell blocking must stay an equi-join")
  }

  test("balanced sample pre-prunes groups with WindowGroupLimit") {
    val p = planOf("q110_balanced_sample")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("range join buckets to an equi-join — no cartesian, no BNLJ") {
    val p = planOf("q101_range_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "interval containment must ride the (key, bucket) equi-join")
  }

  test("funnel steps reuse the user_id exchange, never re-scan windows") {
    val p = planOf("q128_funnel")
    assert(!p.contains("Window"), "funnel must be agg+join, not windows")
  }

  test("min-cost supplier arg-min is one agg + broadcasts, no window") {
    val p = planOf("q150_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("Window"),
      "struct-min arg-min must not fall back to a window rank")
    assert(!p.contains("SortMergeJoin"),
      "part/supplier/nation sides must all broadcast")
  }

  test("cust-no-orders plans a broadcast anti join with a pruned scan") {
    val p = planOf("q152_cust_no_orders")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      p.contains("GreaterThanOrEqual(o_orderdate"),
      "recent-order date filter must reach the orders scan:\n" +
        p.linesIterator.filter(_.contains("orders")).mkString("\n"))
  }

  test("volume shipping rides broadcasts only — lineitem never shuffled") {
    val p = planOf("q160_volume_shipping")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "the filter cascade must keep every join side broadcast-able")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
      p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "ship-date range must reach the lineitem scan")
  }

  test("large-orders HAVING set drives orders/customer as broadcasts") {
    val p = planOf("q165_large_orders")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "the tiny qty-filtered aggregate must be the build side")
  }

  test("disjunctive-predicate revenue plans one scan and no exchange " +
    "beyond the broadcast") {
    val p = planOf("q166_disjunctive_rev")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("In(p_brand"),
      "brand IN-list must prune the part scan:\n" +
        p.linesIterator.filter(_.contains("p_brand")).take(5).mkString("\n"))
  }

  test("item-cf top-3 per target prunes with WindowGroupLimit") {
    val p = planOf("q170_item_cf")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("grouping sets expand once — a single shuffle for all " +
    "granularities") {
    val p = planOf("q175_grouping_sets")
    assert(p.contains("Expand"), p.take(2000))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    // one shuffle for the agg + one for the final orderBy
    assert(exchanges <= 3, s"too many exchanges ($exchanges):\n${p.take(3000)}")
  }

  test("Q6 forecast pushes all three range predicates into the scan") {
    val p = planOf("q182_revenue_forecast")
    // the plan string elides long pushed-filter lists — assert the stable
    // prefix plus the pruned 4-column read schema
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "IsNotNull(l_discount), IsNotNull(l_quantity), " +
      "GreaterThanOrEqual(l_shipda"),
      p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"),
      "Q6 must be scan + partial/final agg only")
  }

  test("Q4 priority-late EXISTS plans a semi join, lineitem never in the agg") {
    val p = planOf("q180_priority_late")
    assert(p.contains("LeftSemi"), p.take(3000))
  }

  test("Q13 distribution keeps the outer join (zero-order customers kept)") {
    val p = planOf("q184_order_distribution")
    assert(p.contains("LeftOuter"), p.take(3000))
  }

  test("Q15 top supplier: scalar-max broadcast, no single-partition window") {
    val p = planOf("q185_top_supplier")
    assert(!p.contains("Window"), "must not plan a window")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("bucketed fact join satisfies distribution from the file layout " +
    "— zero exchanges and zero sorts before the join") {
    // build the bucketed tables, then inspect the JOIN subplan alone
    // (the final priority agg legitimately shuffles its 5 groups).
    // At test scale the planner would broadcast the tiny orders side and
    // skip the bucketed read entirely — disable auto-broadcast to model
    // the 100 TB case the layout exists for (neither side fits).
    SparkEntry.queries("q188_bucketed_join")(spark, dir).collect()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // Spark 3+ stopped propagating bucket sort order by default (the
      // file listing can't cheaply prove one-file-per-bucket); our
      // writer repartitions to exactly that layout, so opt back in.
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val joined = spark.table("graft_b_lineitem")
        .join(spark.table("graft_b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle:\n${p.take(3000)}")
      assert(!p.contains("+- Sort "),
        s"sorted buckets must satisfy the join ordering:\n${p.take(3000)}")
      assert(p.contains("Bucketed: true"), p.take(3000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    }
  }

  test("stored admission probe: no exchange above either stored-index " +
    "scan — the only shuffles are delta-sized") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val (bandsT, arrsT) = graft.dedup.Dedup.stageAdmissionIndex(
      docs.filter(col("doc_id") % 13 =!= 3), tag = "planspec",
      sourceMtime = Long.MaxValue, force = true) // tiny at sf0.001
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // model the 100 TB case: the delta is NOT broadcastable and AQE
      // can't collapse the test-scale plan — the layout must carry it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val probe = graft.dedup.Dedup.probeAdmissionIndex(
        spark.table(bandsT), spark.table(arrsT),
        docs.filter(col("doc_id") % 13 === 3))
      val plan = probe.queryExecution.executedPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def scans(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case s: FileSourceScanExec => s }
      def isIndex(s: FileSourceScanExec) = s.relation.location
        .rootPaths.exists(_.toString.contains("graft_admission"))
      assert(scans(plan).count(isIndex) == 2,
        s"expected band + sidecar scans:\n${plan.toString.take(3000)}")
      // an exchange whose subtree is PURELY an index scan re-shuffles
      // the corpus-sized side — the violation; shuffles over mixed
      // subtrees are the delta-sized candidate stream and are expected
      val shuffledIndex = plan.collect {
        case e: ShuffleExchangeExec
          if scans(e.child).nonEmpty && scans(e.child).forall(isIndex) =>
          e
      }
      assert(shuffledIndex.isEmpty,
        s"stored index must satisfy distribution from the bucket " +
          s"layout:\n${plan.toString.take(3000)}")
      assert(plan.toString.contains("Bucketed: true"),
        plan.toString.take(3000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("bucketed append keeps the join exchange-free (sorts allowed — " +
    "multi-file buckets until compaction)") {
    SparkEntry.queries("q203_bucketed_append")(spark, dir).collect()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = spark.table("graft_bi_lineitem")
        .join(spark.table("graft_bi_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange"),
        s"appended bucketed join must not shuffle:\n${p.take(3000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed compaction restores the sort-free join appends traded " +
    "away (exchange-free throughout)") {
    SparkEntry.queries("q204_bucketed_compaction")(spark, dir).collect()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      def joinPlan(orders: String): String =
        spark.table("graft_bc_lineitem")
          .join(spark.table(orders),
            col("l_orderkey") === col("o_orderkey"))
          .queryExecution.executedPlan.toString
      // contrast: the 3-append uncompacted table still needs a
      // per-bucket Sort (multi-file buckets interleave key ranges)…
      val before = joinPlan("graft_bc_orders")
      assert(!before.contains("Exchange"),
        s"append never costs the exchange:\n${before.take(3000)}")
      assert(before.contains("+- Sort "),
        s"multi-file buckets should still need the sort:\n${before.take(3000)}")
      // …and the compacted rewrite is exchange-free AND sort-free.
      val after = joinPlan("graft_bc_orders_c")
      assert(after.contains("SortMergeJoin"), after.take(2000))
      assert(!after.contains("Exchange"),
        s"compacted join must not shuffle:\n${after.take(3000)}")
      assert(!after.contains("+- Sort "),
        s"compaction must restore sorted-read elision:\n${after.take(3000)}")
      assert(after.contains("Bucketed: true"), after.take(3000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    }
  }

  test("line dedup: exactly one corpus-sized exchange (the line-hash " +
    "window), no join") {
    val p = planOf("q196_line_dedup")
    assert(!p.contains("Join"), p.take(3000))
    // window exchange + per-doc agg exchange + final sort = 3 ceiling
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 3, s"too many exchanges ($exchanges):\n${p.take(3000)}")
  }

  test("filter funnel: one documents scan feeds every stage flag") {
    val p = planOf("q197_filter_funnel")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("matryoshka audit: one scan, no join, no window") {
    val p = planOf("q198_matryoshka")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      p.take(3000))
    assert(!p.contains("Join") && !p.contains("Window"), p.take(3000))
  }

  test("gopher rules: scan-fused projection — no exchange, no join") {
    val p = planOf("q223_gopher_rules")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    // the only allowed exchange is the output orderBy's range partition
    assert(!p.contains("hashpartitioning"), p.take(3000))
  }

  test("dsir: the vocabulary-sized ratio table broadcasts back — the " +
    "corpus never sort-merge-joins its own model") {
    val p = planOf("q224_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("logreg scoring: model rides the plan as literals — one scan, " +
    "no join") {
    val p = planOf("q225_logreg_quality")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("grouped AUC: rank-sum windows, never the pos-times-neg pair join") {
    val p = planOf("q226_auc")
    assert(!p.contains("Join"), p.take(3000))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 4, s"too many exchanges ($exchanges):\n${p.take(3000)}")
  }

  test("facade range+time link scan over a z-ordered versioned table " +
      "plans a PRUNED file list; point lookup plans bloom-admitted " +
      "files; counts are metadata-only") {
    import graft.store.{Layout, Versioned}
    val root = graft.util.TempDirs.scratch("plan_links") + "/links"
    // links-shaped table: (src, dst, ts) over a 64×64 id×time grid,
    // z-ordered into 16 files so an id×ts rectangle maps to few files
    val links = spark.range(0L, 4096L).select(
      (col("id") % 64L).as("src"), (col("id") * 7 % 64L).as("dst"),
      expr("id div 64").as("ts"))
    Versioned.commitOverwrite(Layout.zorder2(links, col("src"),
        col("ts"), nFiles = 16), root,
      statsCols = Seq("src", "ts"), bloomCols = Seq("src"))
    val scan = graft.api.Engine.scanRange(spark, root,
      idFrom = 0L, idTo = 8L, tsBefore = 8L)
    val total = Versioned.files(root).size
    assert(total == 16, s"fixture expected 16 files, got $total")
    assert(scan.inputFiles.length <= 4,
      s"range scan planned ${scan.inputFiles.length}/$total files")
    // identical results to the unpruned scan + filter
    val full = Versioned.read(spark, root)
      .filter(col("src") < 8L && col("ts") < 8L)
    assert(scan.count() == full.count() && scan.count() > 0)
    // the real predicate also reaches the parquet scan (pushed filters)
    val p = scan.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters:") && p.contains("LessThan(src,8)"),
      p.take(2000))
    // point lookup: bloom admits a subset of files
    val hit = graft.api.Engine.lookup(spark, root, key = 5L)
    assert(hit.inputFiles.length < total && hit.count() == 64L)
    // an all-pruned probe returns an empty frame, schema intact
    val miss = graft.api.Engine.lookup(spark, root, key = 999L)
    assert(miss.isEmpty && miss.columns.toSeq == Seq("src", "dst", "ts"))
    // metadata-only count: no scan needed
    assert(graft.api.Engine.tableCount(spark, root) == 4096L)
    // deletion vectors flow through the pruned facade paths too: the
    // composed scans apply tombstones on top of the admitted files
    Versioned.commitDeleteVectors(spark, root,
      col("src") === 5L && col("ts") === 0L)
    assert(graft.api.Engine.lookup(spark, root, key = 5L).count() ==
      63L, "facade lookup resurrected a tombstoned row")
    val scan2 = graft.api.Engine.scanRange(spark, root,
      idFrom = 0L, idTo = 8L, tsBefore = 8L)
    assert(scan2.count() == full.count() - 1,
      "facade range scan resurrected a tombstoned row")
    assert(graft.api.Engine.tableCount(spark, root) == 4095L)
  }

  test("deletion-vector reads broadcast the tombstones (anti-join, no " +
      "shuffle); a DV-free read plans NO join at all") {
    import graft.store.Versioned
    val root = java.nio.file.Files
      .createTempDirectory("planspec_dv").toString
    Versioned.commitAppend(spark.range(1000L)
      .select(col("id").as("k"), (col("id") * 2).as("v")), root)
    // no tombstones: the read is a bare scan — zero plan overhead
    val clean = Versioned.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(!clean.contains("Join"), clean.take(1500))
    Versioned.commitDeleteVectors(spark, root, col("k") < 10L)
    val p = Versioned.read(spark, root)
      .queryExecution.executedPlan.toString
    // deleted-rows-sized side broadcasts; a shuffled anti-join here
    // would re-partition the whole table to subtract ten rows
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hash"),
      p.take(2000))
  }

  test("change feed over MANY commits plans O(1) scans: one stamped " +
      "parquet scan + a broadcast file-to-version map, never a " +
      "per-version union") {
    import graft.store.Versioned
    val root = java.nio.file.Files
      .createTempDirectory("planspec_cdf_wide").toString
    (1 to 30).foreach { i =>
      Versioned.commitAppend(spark.range(i * 10L, i * 10L + 10L)
        .select(col("id").as("k")).coalesce(1), root)
    }
    val feed = Versioned.readChangeFeed(spark, root, 0L)
    val p = feed.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 1, s"a 30-commit feed planned $scans parquet " +
      "scans - the per-version union is back: " + p.take(1500))
    assert(feed.count() == 300L)
    assert(feed.groupBy("_commit_version").count().count() == 30L,
      "every commit's version stamp must survive the collapsed scan")
  }

  test("deletion-vector application is size-AWARE: tombstones past " +
      "the broadcast cap degrade to a shuffled anti-join (bounded at " +
      "any accumulation level), and the read stays exact") {
    import graft.store.Versioned
    val root = java.nio.file.Files
      .createTempDirectory("planspec_dv_big").toString
    Versioned.commitAppend(spark.range(1000L)
      .select(col("id").as("k"), (col("id") * 2).as("v")), root)
    Versioned.commitDeleteVectors(spark, root, col("k") < 10L)
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("graft.versioned.dv.broadcastBytes", "1")
    try {
      val df = Versioned.read(spark, root)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        "tombstones past the cap must not broadcast: " + p.take(2000))
      assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"),
        p.take(2000))
      assert(df.count() == 990L, "shuffled DV application lost rows")
      assert(df.agg(sum(col("k"))).head().getLong(0) ==
        (10L to 999L).sum)
    } finally hconf.unset("graft.versioned.dv.broadcastBytes")
  }

  test("LPA and Louvain elect labels with a hash-aggregated packed argmax") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val labels = (1L to 5L).map(i => (i, i)).toDF("id", "lab")
    // LPA's rounds are Iterate's stored generations, so its argmax plan
    // is only visible to the session's execution listeners
    val plans = BuildJobs.plans(spark) {
      graft.graph.Communities.labelPropagation(edges, 1).collect(); ()
    }.map(_.toString)
    // the argmax aggregate: a max over a score packed by 2^64
    def argmaxLines(p: String) = p.linesIterator
      .filter(l => l.contains("max(") && l.contains("18446744073709551616"))
      .toSeq
    val lpa = plans.filter(argmaxLines(_).nonEmpty)
    val louvain = graft.graph.Louvain.moveRound(edges, labels,
      allowUp = false).queryExecution.executedPlan.toString
    assert(lpa.nonEmpty, s"no LPA argmax plan among ${plans.size}")
    (lpa :+ louvain).foreach { p =>
      assert(argmaxLines(p).nonEmpty &&
        argmaxLines(p).forall(_.contains("HashAggregate")), p)
      assert(!p.contains("SortAggregate"), p)
    }
  }

  /** Run `body` with AQE and broadcast joins off — the planned shape a
    * cluster-scale input gets, where nothing is small enough to
    * broadcast (the stored-admission case above does the same). */
  private def clusterShape[T](body: => T): T = {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  private val graphEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (4L, 5L), (5L, 1L), (2L, 5L))

  test("a HITS iteration exchanges only the V-sized score frames: one " +
      "exchange per step, none over either cached edge layout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // each step's score frame is a stored generation built in its own
    // SQL execution, so its plan is only visible to the session's
    // execution listeners
    val iters = 2
    val plans = clusterShape(BuildJobs.plans(spark) {
      graft.graph.Hits.run(graphEdges.toDF("src", "dst"), iters).collect(); ()
    })
    def exchanges(p: SparkPlan) = p.collect { case e: ShuffleExchangeExec => e }
    // a step: an inner join of a cached edge layout with the previous
    // score frame, summed by the other endpoint
    val steps = plans.filter(
      _.collect { case j: SortMergeJoinExec => j }.exists(_.joinType ==
        org.apache.spark.sql.catalyst.plans.Inner))
    assert(steps.size == 2 * iters,
      s"expected ${2 * iters} auth/hub steps among ${plans.size} plans")
    steps.foreach { p =>
      // the join reads both sides in place: the edge layout and the
      // score frame are already partitioned and sorted by the join key
      val joins = p.collect { case j: SortMergeJoinExec => j }
      assert(joins.forall(exchanges(_).isEmpty), p.toString)
      // the one exchange moves partially summed scores (V-sized)
      val ex = exchanges(p)
      assert(ex.size == 1, p.toString)
      val below = ex.head.child match {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          w.child
        case other => other
      }
      assert(below.isInstanceOf[org.apache.spark.sql.execution
        .aggregate.HashAggregateExec], p.toString)
    }
  }

  /** A HITS run's auth/hub steps under AQE with broadcasts off (the
    * shape a cluster-scale input gets, where no side is small enough to
    * broadcast), each with its exchanges, after asserting that neither
    * stored edge layout is exchanged. Each step's score frame is a
    * stored generation built in its own SQL execution, so its plan is
    * only visible to the session's execution listeners. */
  private def hitsStepsUnderAqe(coalesce: Boolean)
      : Seq[(org.apache.spark.sql.execution.SparkPlan, Int)] = {
    import spark.implicits._
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val iters = 2
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevC = spark.conf.get(coalesceKey)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(coalesceKey, coalesce.toString)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val plans = try BuildJobs.plans(spark) {
      graft.graph.Hits.run(graphEdges.toDF("src", "dst"), iters).collect(); ()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set(coalesceKey, prevC)
    }
    // walks the final adaptive plan, query stages included
    object H extends AdaptiveSparkPlanHelper
    def exchanges(p: SparkPlan) = H.collect(p) {
      case e: ShuffleExchangeExec => e }
    def isEdges(p: SparkPlan) = H.collect(p) {
      case s: RDDScanExec if s.output.map(_.name) == Seq("src", "dst") => s
    }.nonEmpty
    // a step: an inner join of a stored edge layout with the previous
    // score frame, summed by the other endpoint
    val steps = plans.filter(p => H.collect(p) {
      case j: SortMergeJoinExec if j.joinType ==
          org.apache.spark.sql.catalyst.plans.Inner => j }.nonEmpty)
    assert(steps.size == 2 * iters,
      s"expected ${2 * iters} auth/hub steps among ${plans.size} plans")
    steps.map { p =>
      val join = H.collect(p) { case j: SortMergeJoinExec => j }.head
      val edgeSide = Seq(join.left, join.right).filter(isEdges)
      assert(edgeSide.size == 1, p.toString)
      assert(exchanges(edgeSide.head).isEmpty,
        s"the edge layout is exchanged:\n$p")
      (p, exchanges(p).size)
    }
  }

  test("under AQE a HITS iteration exchanges only the V-sized score " +
      "frames: one exchange per step, none over either edge layout") {
    // no coalesced shuffle reads: no partition is small enough to merge
    hitsStepsUnderAqe(coalesce = false).foreach { case (p, n) =>
      assert(n == 1, s"$n exchanges:\n$p")
    }
  }

  test("under the session's partition coalescing a HITS step still " +
      "never exchanges either edge layout") {
    // a coalesced score frame reports no partitioning (a coalesced read
    // co-partitions with nothing): the next step exchanges it once more
    // by its join key (V-sized), so a step exchanges at most twice. Only
    // the first step, over the uncoalesced vertex frame, exchanges once.
    val counts = hitsStepsUnderAqe(coalesce = true).map { case (p, n) =>
      assert(n <= 2, s"$n exchanges:\n$p")
      n
    }
    assert(counts.head == 1, counts)
  }

  test("a PageRank superstep under AQE never exchanges the cached edge " +
      "layout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // each generation is a stored RDD leaf built in its own SQL
    // execution, so its plan is only visible to the session's execution
    // listeners
    val iters = 3
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val plans = try BuildJobs.plans(spark) {
      graft.graph.PageRank.run(
        (1L to 5L).toDF("id"), graphEdges.toDF("src", "dst"),
        maxIter = iters, stopTol = None).scores.collect(); ()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    // walks the final adaptive plan, query stages included
    object H extends AdaptiveSparkPlanHelper
    def isEdges(s: InMemoryTableScanExec) =
      Set("dst", "od").subsetOf(s.output.map(_.name).toSet)
    def edgeSide(p: SparkPlan) =
      H.collect(p) { case s: InMemoryTableScanExec if isEdges(s) => s }.nonEmpty
    // a superstep: the sort-merge join (on src) of the cached edge
    // layout with the previous generation's scores
    val joins = plans.flatMap(p => H.collect(p) {
      case j: SortMergeJoinExec if edgeSide(j) &&
          j.leftKeys.exists(_.references.exists(_.name == "src")) => j
    })
    assert(joins.size == iters, s"${joins.size} superstep joins among " +
      s"${plans.size} plans")
    joins.foreach { j =>
      val side = Seq(j.left, j.right).filter(edgeSide)
      assert(side.size == 1, j.toString)
      assert(H.collect(side.head) { case x: ShuffleExchangeExec => x }.isEmpty,
        s"the edge side is exchanged:\n$j")
    }
  }

  test("a multi-iteration PageRank over string ids never exchanges the " +
      "cached edge layout under AQE") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val iters = 3
    val name = (i: Long) => s"v$i"
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plans = try BuildJobs.plans(spark) {
      graft.graph.PageRank.run(
        (1L to 5L).map(name).toDF("id"),
        graphEdges.map { case (a, b) => (name(a), name(b)) }
          .toDF("src", "dst"),
        maxIter = iters, stopTol = None).scores.collect(); ()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    object H extends AdaptiveSparkPlanHelper
    def edgeSide(p: SparkPlan) = H.collect(p) {
      case s: InMemoryTableScanExec
          if Set("dst", "od").subsetOf(s.output.map(_.name).toSet) => s
    }.nonEmpty
    val joins = plans.flatMap(p => H.collect(p) {
      case j: SortMergeJoinExec if edgeSide(j) &&
          j.leftKeys.exists(_.references.exists(_.name == "src")) => j
    })
    assert(joins.size == iters, s"${joins.size} superstep joins among " +
      s"${plans.size} plans")
    joins.foreach { j =>
      val side = Seq(j.left, j.right).filter(edgeSide)
      assert(side.size == 1, j.toString)
      assert(H.collect(side.head) { case x: ShuffleExchangeExec => x }.isEmpty,
        s"the edge side is exchanged:\n$j")
    }
  }

  test("under AQE a Louvain move round never exchanges its stored edge " +
      "union by dst") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // each round's labels are a stored generation built in its own
    // "checkpoint" SQL execution, which the listeners see
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val plans = try BuildJobs.plans(spark) {
      graft.graph.Louvain.run(graphEdges.toDF("src", "dst"), rounds = 2)
        .collect(); ()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    object H extends AdaptiveSparkPlanHelper
    // the stored both-orientation edge union: (src, dst, w)
    def isEdges(p: SparkPlan) = H.collect(p) {
      case s: RDDScanExec if s.output.map(_.name) == Seq("src", "dst", "w") =>
        s
    }.nonEmpty
    // a round's neighbor-label join, on dst, of the edges with the labels
    val joins = plans.flatMap(p => H.collect(p) {
      case j: SortMergeJoinExec if isEdges(j) &&
          j.leftKeys.exists(_.references.exists(_.name == "dst")) => j
    })
    assert(joins.size == 2, s"${joins.size} neighbor joins among " +
      s"${plans.size} plans")
    joins.foreach { j =>
      val side = Seq(j.left, j.right).filter(isEdges)
      assert(side.size == 1, j.toString)
      assert(H.collect(side.head) { case x: ShuffleExchangeExec => x }.isEmpty,
        s"the edge union is exchanged:\n$j")
    }
  }

  test("a Louvain move round exchanges its candidate stream three times") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // the round is read from moveRound's own plan, as the argmax case
    // above does (Louvain.run's stored rounds report to the listeners as
    // "checkpoint" executions; the AQE case above reads them there)
    val labels = (1L to 5L).map(i => (i, i)).toDF("id", "lab")
    val p = clusterShape {
      graft.graph.Louvain.moveRound(graphEdges.toDF("src", "dst"), labels,
        allowUp = false).queryExecution.executedPlan
    }
    // the candidate stream starts at the neighbor-label join (on dst)
    def neighborJoin(q: SparkPlan) = q.collect {
      case j: SortMergeJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "dst")) => j
    }
    assert(neighborJoin(p).size == 1, p.toString)
    // by id (the folded candidate aggregation), by community (the
    // totals join), by id (the argmax): three, the r15 shape
    val stream = p.collect {
      case e: ShuffleExchangeExec if neighborJoin(e).nonEmpty => e
    }
    assert(stream.size == 3, s"${stream.size} exchanges of the candidate " +
      s"stream:\n$p")
  }
}
