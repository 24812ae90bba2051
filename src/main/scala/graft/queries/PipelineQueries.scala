package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Sampling
import graft.util.Exact

/** Dataset-carving queries (q49): deterministic sampling + group-stable
  * splits — the reproducible train/val/test machinery of a training-data
  * pipeline (see [[graft.operators.Sampling]]).
  */
object PipelineQueries {

  def specs: Seq[QuerySpec] = Seq(

    // ------------------------------------------------------------------
    // Stratified deterministic sample (en 50%, others 20%) + group-stable
    // 80/10/10 split, both pure hash predicates inside the scan stage.
    // Sampling and splitting hash DISJOINT domains ("sample|", "split|"),
    // so the sample doesn't bias the split (SamplingSpec pins this).
    // ------------------------------------------------------------------
    // Deterministic global training shuffle into fixed shards: shard =
    // key-hash mod 32 (rides the scan), position = hash order within
    // the shard (one exchange + in-partition sort — no global sort, no
    // single-partition window). The per-shard ORDER-SENSITIVE checksum
    // Σ (h mod p)·pos pins the exact permutation cross-engine: any
    // reordering, dropped row, or partition-dependent tie-break changes
    // it, which is what makes a 100 TB training run's data order an
    // auditable artifact rather than an RNG side effect.
    QuerySpec("q218_training_shuffle",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"))
        Sampling.shuffleShards(docs, col("doc_id").cast("string"), 32)
          .withColumn("hm", pmod(col("shuffle_h"), lit(2147483647L)))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("chars"),
            sum(col("hm") * col("pos")).as("order_fingerprint"),
            min("shuffle_h").as("h_min"), max("shuffle_h").as("h_max"))
          .orderBy("shard")
      },
      Some("""
        WITH sh AS (
          SELECT doc_id, n_chars,
                 CAST(('0x'||substring(md5('shuffle|' || doc_id),1,15))
                   AS BIGINT) AS h
          FROM documents),
        pos AS (
          SELECT shard, n_chars, h, h % 2147483647 AS hm,
                 row_number() OVER (PARTITION BY shard
                                    ORDER BY h, doc_id) AS rn
          FROM (SELECT *, h % 32 AS shard FROM sh))
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars,
               CAST(sum(hm * rn) AS BIGINT) AS order_fingerprint,
               CAST(min(h) AS BIGINT) AS h_min,
               CAST(max(h) AS BIGINT) AS h_max
        FROM pos GROUP BY 1 ORDER BY 1""")),

    QuerySpec("q49_sample_split",
      (s, dir) => {
        val key = col("doc_id").cast("string")
        val sampled = Sampling.stratifiedHashSample(
          Tables.documents(s, dir), key, col("lang"),
          rates = Map("en" -> 50), defaultNum = 20)
        sampled
          .withColumn("split", Sampling.splitLabel(key, 80, 10))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
          .orderBy("lang", "split")
      },
      Some("""
        WITH s AS (
          SELECT lang, n_chars,
            CAST(('0x'||substring(md5('sample|' || doc_id),1,15))
              AS BIGINT) % 100 AS cs,
            CAST(('0x'||substring(md5('split|' || doc_id),1,15))
              AS BIGINT) % 100 AS cp
          FROM documents),
        kept AS (SELECT * FROM s
          WHERE cs < CASE WHEN lang = 'en' THEN 50 ELSE 20 END),
        lab AS (SELECT lang, n_chars,
          CASE WHEN cp < 80 THEN 'train'
               WHEN cp < 90 THEN 'val'
               ELSE 'test' END AS split
          FROM kept)
        SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM lab GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ------------------------------------------------------------------
    // Per-language length quantiles — the length-percentile cutoffs a
    // quality filter derives before trimming a corpus. EXACT interpolated
    // percentile (not percentile_approx): both engines compute the same
    // a + (b-a)*frac(p*(n-1)) on integer inputs, and the micros snap
    // absorbs any last-ulp difference. Spark's exact percentile buffers
    // a value->count map per group — bounded by the distinct-length
    // domain, not row count, so it holds at 100 TB for length-like
    // columns (use approx_percentile for unbounded-domain doubles).
    QuerySpec("q50_length_quantiles",
      (s, dir) => Tables.documents(s, dir)
        .groupBy("lang")
        .agg(expr("percentile(n_chars, array(0.5D, 0.9D, 0.99D))").as("q"),
          count(lit(1)).as("n_docs"))
        .select(col("lang"),
          Exact.micros(element_at(col("q"), 1)).as("p50_micros"),
          Exact.micros(element_at(col("q"), 2)).as("p90_micros"),
          Exact.micros(element_at(col("q"), 3)).as("p99_micros"),
          col("n_docs"))
        .orderBy("lang"),
      Some("""
        SELECT lang,
          CAST(floor(quantile_cont(n_chars, 0.5)*1000000+0.5) AS BIGINT)
            AS p50_micros,
          CAST(floor(quantile_cont(n_chars, 0.9)*1000000+0.5) AS BIGINT)
            AS p90_micros,
          CAST(floor(quantile_cont(n_chars, 0.99)*1000000+0.5) AS BIGINT)
            AS p99_micros,
          CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ------------------------------------------------------------------
    // Length-outlier detection via EXACT integer moments: variance needs
    // only (n, Σx, Σx²), which are associative BIGINT sums — one partial-
    // aggregated pass, bit-identical on any engine and at any partition
    // count (a float stddev would be neither). The 2σ test is evaluated
    // without division: (x·n − Σx)² > 4·(n·Σx² − (Σx)²) stays in
    // integers. Range bound: the test needs (x_max·n)² < 2^63, i.e.
    // n ≲ 3·10^9/x_max rows per group (fine for per-language groups of
    // ~10^6-char docs up to ~billions of rows); past that, rescale x or
    // widen to DECIMAL(38) sums — don't switch to float moments, they
    // lose both exactness and engine parity.
    QuerySpec("q55_length_outliers",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val m = d.groupBy("lang").agg(
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sxx"))
        d.join(broadcast(m), "lang")
          .select(col("lang"), col("n"), col("sx"), col("sxx"),
            when((col("n_chars") * col("n") - col("sx")) *
                 (col("n_chars") * col("n") - col("sx")) >
                 lit(4L) * (col("n") * col("sxx") - col("sx") * col("sx")),
              1L).otherwise(0L).as("is_out"))
          .groupBy("lang")
          .agg(sum(col("is_out")).as("n_outliers"),
            count(lit(1)).as("n_docs"),
            first(col("sx")).as("sum_chars"),
            first(col("sxx")).as("sum_sq_chars"))
          .orderBy("lang")
      },
      Some("""
        WITH m AS (SELECT lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS sx,
            CAST(sum(n_chars*n_chars) AS BIGINT) AS sxx
          FROM documents GROUP BY lang),
        o AS (SELECT d.lang, m.sx, m.sxx,
            CASE WHEN (d.n_chars*m.n - m.sx)*(d.n_chars*m.n - m.sx)
                      > 4*(m.n*m.sxx - m.sx*m.sx) THEN 1 ELSE 0 END AS is_out
          FROM documents d JOIN m USING (lang))
        SELECT lang, CAST(sum(is_out) AS BIGINT) AS n_outliers,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(sx) AS BIGINT) AS sum_chars,
               CAST(min(sxx) AS BIGINT) AS sum_sq_chars
        FROM o GROUP BY lang ORDER BY lang""")),

    // ------------------------------------------------------------------
    // Crawl politeness scheduling: frontier URLs (20 synthetic hosts ×
    // 25 URLs) planned into fetch waves of ≤ 4 per host — one host-keyed
    // shuffle, rank ties on the URL string so the plan reproduces.
    QuerySpec("q78_politeness_waves",
      (s, dir) => {
        val links = Tables.documents(s, dir).select(
          concat(lit("http://s"), (col("doc_id") % 20).cast("string"),
            lit(".example/d/"), col("doc_id").cast("string")).as("url"))
        graft.crawl.Crawl.politenessWaves(links, perWave = 4)
          .select(col("url"), col("host"), col("wave"))
          .orderBy("url")
      },
      Some("""
        WITH links AS (
          SELECT 'http://s' || (doc_id % 20) || '.example/d/' || doc_id
            AS url
          FROM documents),
        h AS (SELECT url,
            regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host
          FROM links)
        SELECT url, host,
               CAST((row_number() OVER (PARTITION BY host ORDER BY url)
                     - 1) // 4 AS INT) AS wave
        FROM h ORDER BY url""")),

    // ------------------------------------------------------------------
    // Bloom runtime-filter semi-join reduction: build a 4096-bit / 3-hash
    // Bloom filter from the BUILDING customers, pre-filter the orders
    // fact scan through it (3 broadcast semi-probes, fact side never
    // shuffles), then account exactly: bloom_pass >= true_match always
    // (no false negatives — the q77-style guarantee, here checked by the
    // oracle replaying both sides), and the gap IS the false-positive
    // count the real join would cull. At sf0.01: ~0.8% fp rate.
    QuerySpec("q84_bloom_filter_join",
      (s, dir) => {
        import graft.operators.RuntimeFilter
        val cust = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k"))
        // The bit table feeds all 3 probes plus its own count — truncate
        // once (a stored leaf, Ckpt.store) so the dimension scan
        // doesn't re-run per consumer.
        val bits = RuntimeFilter.bloomBits(cust, col("k"), k = 3,
          mBits = 4096).transform(graft.util.Ckpt.store(_))
        val orders = Tables.orders(s, dir)
        val pass = RuntimeFilter.probe(orders, col("o_custkey"), bits,
          k = 3, mBits = 4096)
        val exact = orders.join(cust.withColumnRenamed("k", "o_custkey"),
          Seq("o_custkey"), "left_semi")
        bits.agg(count(lit(1)).as("bits_set"))
          .crossJoin(pass.agg(count(lit(1)).as("bloom_pass")))
          .crossJoin(exact.agg(count(lit(1)).as("true_match")))
          .select(col("bits_set"), col("bloom_pass"), col("true_match"),
            (col("bloom_pass") - col("true_match")).as("false_pos"))
      },
      Some {
        def h(expr: String) =
          s"CAST(('0x' || substring(md5($expr), 1, 15)) AS BIGINT) % 4096"
        s"""
        WITH sm AS (SELECT c_custkey AS k FROM customer
          WHERE c_mktsegment = 'BUILDING'),
        bits AS (SELECT DISTINCT bit FROM (
          SELECT ${h("'0|' || k")} AS bit FROM sm
          UNION ALL SELECT ${h("'1|' || k")} FROM sm
          UNION ALL SELECT ${h("'2|' || k")} FROM sm)),
        pass AS (SELECT o_orderkey FROM orders
          WHERE ${h("'0|' || o_custkey")} IN (SELECT bit FROM bits)
            AND ${h("'1|' || o_custkey")} IN (SELECT bit FROM bits)
            AND ${h("'2|' || o_custkey")} IN (SELECT bit FROM bits)),
        agg AS (SELECT
          (SELECT count(*) FROM bits) AS bits_set,
          (SELECT count(*) FROM pass) AS bloom_pass,
          (SELECT count(*) FROM orders
           WHERE o_custkey IN (SELECT k FROM sm)) AS true_match)
        SELECT CAST(bits_set AS BIGINT) AS bits_set,
               CAST(bloom_pass AS BIGINT) AS bloom_pass,
               CAST(true_match AS BIGINT) AS true_match,
               CAST(bloom_pass - true_match AS BIGINT) AS false_pos
        FROM agg"""
      }),

    // ------------------------------------------------------------------
    // Fuzzy record-linkage join: all supplier-name pairs within
    // Levenshtein distance 1 via SymSpell deletion-key blocking +
    // levenshtein verify. Like q77 the ORACLE is the brute-force cross
    // join — the hash compare checks the blocking scheme's
    // no-false-negative guarantee itself (900 pairs at sf0.01; the
    // engine never forms the 100x100 cross product).
    QuerySpec("q85_fuzzy_join",
      (s, dir) => {
        val sup = Tables.supplier(s, dir)
          .select(col("s_suppkey").as("id"), col("s_name").as("name"))
        graft.operators.Fuzzy.editDistance1Pairs(sup, "id", "name")
          .orderBy("id_a", "id_b")
      },
      Some("""
        SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
               a.s_name AS name_a, b.s_name AS name_b
        FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        WHERE levenshtein(a.s_name, b.s_name) <= 1
        ORDER BY id_a, id_b""")),

    // ------------------------------------------------------------------
    // Weighted sample without replacement (Efraimidis-Spirakis 2006):
    // 500 documents drawn proportional to token count, reproducibly
    // (hash-uniform, no RNG). Log-domain ranking (one ln), micros snap,
    // doc_id tie-break; top-k is TakeOrderedAndProject — no global sort.
    QuerySpec("q88_weighted_sample",
      (s, dir) => {
        import graft.text.Analyzer
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          size(Analyzer.tokenize(col("text"))).cast("long").as("w"))
        Sampling.weightedSample(docs, col("doc_id"), col("w"), k = 500)
          .select(col("doc_id"), col("w"), col("ws_score_micros"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id,
            CAST(len(list_filter(
              string_split_regex(lower(trim(text)), '\\s+'),
              x -> x <> '')) AS BIGINT) AS w
          FROM documents),
        sc AS (SELECT doc_id, w,
            ${Exact.microsSql(
              "ln(CAST(" +
              "CAST(('0x' || substring(md5('wsample|' || doc_id), 1, 15)) " +
              "AS BIGINT) + 1 AS DOUBLE) / power(2.0, 60)) " +
              "/ CAST(w AS DOUBLE)")} AS ws_score_micros
          FROM t WHERE w > 0)
        SELECT doc_id, w, ws_score_micros
        FROM sc ORDER BY ws_score_micros DESC, doc_id LIMIT 500""")),

    // ------------------------------------------------------------------
    // Incremental aggregate maintenance (materialized-view refresh):
    // the engine takes the MERGE path — state(base) ⊕ state(delta),
    // base = 90% of lineitem, delta = the l_orderkey % 10 = 7 batch —
    // while the oracle recomputes the aggregate from the full table.
    // Hash equality IS the maintenance invariant: absorbing a delta
    // into standing state touches |delta| rows, never |base|.
    QuerySpec("q90_incremental_agg",
      (s, dir) => {
        import graft.operators.Incremental
        val li = Tables.lineitem(s, dir)
        val keys = Seq("l_returnflag", "l_linestatus")
        val v = Exact.cents(col("l_extendedprice"))
        val base = Incremental.aggState(
          li.filter(col("l_orderkey") % 10 =!= 7), keys, v)
        val delta = Incremental.aggState(
          li.filter(col("l_orderkey") % 10 === 7), keys, v)
        Incremental.readout(Incremental.mergeState(base, delta, keys))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(${Exact.centsSql("l_extendedprice")}) AS BIGINT)
                 AS sum_cents,
               min(${Exact.centsSql("l_extendedprice")}) AS min_cents,
               max(${Exact.centsSql("l_extendedprice")}) AS max_cents,
               ${Exact.microsSql(
                 "CAST(sum(" + Exact.centsSql("l_extendedprice") +
                 ") AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE)")}
                 AS avg_micros
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ------------------------------------------------------------------
    // One-pass exact correlation matrix (q55's integer moments, all
    // pairwise): quantity/price/discount in cents, every sum integer-
    // exact (DECIMAL(38,0) ≡ HUGEINT), the float tail only casts +
    // IEEE-exact sqrts + one divide. On this synthetic corpus all three
    // pairs come out near zero (the generator draws the measures
    // independently) — the decorrelation itself is the checked answer.
    QuerySpec("q91_corr_matrix",
      (s, dir) => graft.operators.Stats.corrMatrix(
        Tables.lineitem(s, dir),
        Seq("qty" -> Exact.cents(col("l_quantity")),
          "price" -> Exact.cents(col("l_extendedprice")),
          "disc" -> Exact.cents(col("l_discount"))))
        .orderBy("pair"),
      Some {
        def corrSql(sp: String, sa: String, sb: String,
                    ssa: String, ssb: String) =
          s"CAST(n * $sp - $sa * $sb AS DOUBLE) / " +
            s"(sqrt(CAST(n * $ssa - $sa * $sa AS DOUBLE)) * " +
            s"sqrt(CAST(n * $ssb - $sb * $sb AS DOUBLE)))"
        s"""
        WITH m AS (SELECT
            ${Exact.centsSql("l_quantity")} AS q,
            ${Exact.centsSql("l_extendedprice")} AS p,
            ${Exact.centsSql("l_discount")} AS d
          FROM lineitem),
        a AS (SELECT count(*) AS n,
            sum(q) AS sq, sum(p) AS sp, sum(d) AS sd,
            sum(q*q) AS sqq, sum(p*p) AS spp, sum(d*d) AS sdd,
            sum(q*p) AS sqp, sum(q*d) AS sqd, sum(p*d) AS spd
          FROM m)
        SELECT pair, CAST(n AS BIGINT) AS n, corr_micros FROM (
          SELECT 'qty~price' AS pair, n,
                 ${Exact.microsSql(corrSql("sqp", "sq", "sp", "sqq", "spp"))}
                   AS corr_micros FROM a
          UNION ALL
          SELECT 'qty~disc', n,
                 ${Exact.microsSql(corrSql("sqd", "sq", "sd", "sqq", "sdd"))}
            FROM a
          UNION ALL
          SELECT 'price~disc', n,
                 ${Exact.microsSql(corrSql("spd", "sp", "sd", "spp", "sdd"))}
            FROM a)
        ORDER BY pair"""
      }),

    // ------------------------------------------------------------------
    // Multi-dimensional CUBE aggregate: all 2^2 grouping-set combinations
    // of (returnflag, linestatus) in ONE pass — Spark expands the cube
    // into a single Expand + hash-agg (each input row feeds all 4 sets
    // map-side, so it still partial-aggregates before the shuffle; no
    // 4x rescan). grouping_id() disambiguates rolled-up NULLs from data
    // NULLs; keys are coalesced to 'ALL' so the oracle compare never
    // depends on engine NULL-ordering rules.
    QuerySpec("q97_cube_pricing",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        li.cube(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().cast("long").as("gid"),
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            sum(Exact.cents(col("l_extendedprice"))).as("price_cents"),
            count(lit(1)).as("cnt"))
          .select(col("gid"),
            coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
            col("sum_qty"), col("price_cents"), col("cnt"))
          .orderBy("gid", "rflag", "lstatus")
      },
      Some(s"""
        SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               coalesce(l_returnflag, 'ALL') AS rflag,
               coalesce(l_linestatus, 'ALL') AS lstatus,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               CAST(sum(${Exact.centsSql("l_extendedprice")}) AS BIGINT)
                 AS price_cents,
               count(*) AS cnt
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY gid, rflag, lstatus""")),

    // ------------------------------------------------------------------
    // Pivot (long -> wide): order value by status x priority. Spark's
    // `pivot` with an EXPLICIT value list compiles to one hash-agg of
    // conditional sums (no second pass to discover the domain, which at
    // 100 TB would be a full extra scan + collect) — same shape as the
    // oracle's FILTER aggregates. Empty cells are 0, not NULL, so the
    // frame is total.
    QuerySpec("q98_pivot_priority",
      (s, dir) => {
        val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")
        val wide = Tables.orders(s, dir)
          .withColumn("cents", Exact.cents(col("o_totalprice")))
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority", priorities)
          .agg(sum(col("cents")))
        val named = Seq("p_urgent", "p_high", "p_medium", "p_notspec",
          "p_low")
        priorities.zip(named).foldLeft(wide) { case (df, (from, to)) =>
          df.withColumn(to, coalesce(col(s"`$from`"), lit(0L)))
        }.select(col("o_orderstatus") +: named.map(col): _*)
          .orderBy("o_orderstatus")
      },
      Some {
        def cell(p: String, as: String) =
          "CAST(coalesce(sum(" + Exact.centsSql("o_totalprice") +
            s") FILTER (WHERE o_orderpriority = '$p'), 0) AS BIGINT) AS $as"
        s"""
        SELECT o_orderstatus,
               ${cell("1-URGENT", "p_urgent")},
               ${cell("2-HIGH", "p_high")},
               ${cell("3-MEDIUM", "p_medium")},
               ${cell("4-NOT SPECIFIED", "p_notspec")},
               ${cell("5-LOW", "p_low")}
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      }),

    // ------------------------------------------------------------------
    // Sessionless user-activity analytics: per-user daily series ->
    // day-over-day churn via lag() (window PARTITIONED by user — shuffles
    // once on user_id, each partition sorts its own short series; scale-
    // safe), then activity quartiles via ntile(4) over the per-user
    // rollup. The unpartitioned ntile window ranks |users| rows, not
    // |events| — bounded input by construction (at 100 TB you'd swap the
    // exact ntile for percentile cutoffs; the daily/churn stages are the
    // scale path and they never see a global window).
    QuerySpec("q99_activity_quartiles",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val dayNs = 86400L * 1000000000L
        val daily = Tables.events(s, dir)
          .groupBy(col("user_id"), expr(s"ts div $dayNs").as("day"))
          .agg(count(lit(1)).as("n"))
        val wUser = Window.partitionBy("user_id").orderBy("day")
        val churn = daily
          .withColumn("prev", lag(col("n"), 1).over(wUser))
          .groupBy("user_id")
          .agg(sum(col("n")).as("n_events"),
            sum(abs(col("n") - col("prev"))).as("churn"),
            count(lit(1)).as("active_days"))
        val wAll = Window.orderBy(col("n_events").desc, col("user_id"))
        churn.withColumn("quartile", ntile(4).over(wAll).cast("long"))
          .groupBy("quartile")
          .agg(count(lit(1)).as("users"),
            sum(col("n_events")).as("events"),
            sum(coalesce(col("churn"), lit(0L))).as("total_churn"),
            sum(col("active_days")).as("active_days"))
          .orderBy("quartile")
      },
      Some("""
        WITH daily AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                 count(*) AS n
          FROM events GROUP BY 1, 2),
        lagged AS (
          SELECT user_id, n,
                 lag(n) OVER (PARTITION BY user_id ORDER BY day) AS prev
          FROM daily),
        churn AS (
          SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
                 CAST(sum(abs(n - prev)) AS BIGINT) AS churn,
                 count(*) AS active_days
          FROM lagged GROUP BY user_id),
        q AS (
          SELECT *, CAST(ntile(4) OVER
              (ORDER BY n_events DESC, user_id) AS BIGINT) AS quartile
          FROM churn)
        SELECT quartile, CAST(count(*) AS BIGINT) AS users,
               CAST(sum(n_events) AS BIGINT) AS events,
               CAST(sum(coalesce(churn, 0)) AS BIGINT) AS total_churn,
               CAST(sum(active_days) AS BIGINT) AS active_days
        FROM q GROUP BY quartile ORDER BY quartile""")),

    // ------------------------------------------------------------------
    // Bucketed point-in-interval range join: error events attributed to
    // the user's activity sessions (sessions built over NON-error
    // events, q36's gap rule, padded ±30 min — an error just before,
    // during, or just after a session belongs to it; padding makes
    // adjacent intervals overlap, so multi-match is exercised). A
    // native `BETWEEN` join condition plans as BroadcastNestedLoop;
    // RangeJoin turns it into an equi-join on (user, hour-bucket) —
    // PlanSpec asserts no nested loop / cartesian survives. Errors
    // outside any padded session drop out (inner semantics).
    QuerySpec("q101_range_join",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val gapUs = 30L * 60 * 1000000
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("ts div 1000").as("ts_us"))
        val byUser = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
        val sessions = ev.filter(col("event_type") =!= "error")
          .withColumn("prev_ts", lag("ts_us", 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              col("ts_us") - col("prev_ts") > gapUs, 1L).otherwise(0L))
          .withColumn("sess_no", sum("new_sess").over(
            byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sess_no")
          .agg((min("ts_us") - gapUs).as("start_us"),
            (max("ts_us") + gapUs).as("end_us"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id"), col("ts_us"))
        graft.operators.RangeJoin.pointInInterval(errors, sessions,
            Seq("user_id"), "ts_us", "start_us", "end_us",
            bucketWidth = 3600L * 1000000)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            col("sess_no"), col("start_us"), col("end_us"))
          .orderBy("event_id", "sess_no")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
          FROM events),
        flagged AS (
          SELECT user_id, event_id, ts_us,
                 CASE WHEN lag(ts_us) OVER w IS NULL
                        OR ts_us - lag(ts_us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM ev WHERE event_type <> 'error'
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        sess AS (
          SELECT user_id,
                 sum(new_sess) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_no,
                 ts_us
          FROM flagged),
        bounds AS (
          SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
                 CAST(min(ts_us) - 1800000000 AS BIGINT) AS start_us,
                 CAST(max(ts_us) + 1800000000 AS BIGINT) AS end_us
          FROM sess GROUP BY user_id, sess_no)
        SELECT e.user_id, e.event_id, e.ts_us,
               b.sess_no, b.start_us, b.end_us
        FROM ev e JOIN bounds b
          ON e.user_id = b.user_id
         AND e.ts_us BETWEEN b.start_us AND b.end_us
        WHERE e.event_type = 'error'
        ORDER BY e.event_id, b.sess_no""")),

    // ------------------------------------------------------------------
    // Recency-weighted (exponentially decayed) engagement score per
    // user: weight halves per day of age relative to the corpus's
    // newest event, floored at 1 past 30 days — EWMA semantics with the
    // float sum designed out (weights are powers of two, the sum is
    // exact integer arithmetic; see operators.Stats.decayedSum). The
    // corpus max-ts is an in-plan 1-row broadcast, not a driver action.
    QuerySpec("q104_decayed_engagement",
      (s, dir) => {
        val dayUs = 86400000000L
        val ev = Tables.events(s, dir).select(col("user_id"),
          expr("ts div 1000").as("ts_us"),
          Exact.cents(col("value")).as("cents"))
        val mx = ev.agg(max("ts_us").as("max_us"))
        val aged = ev.crossJoin(broadcast(mx))
          .withColumn("age", expr(s"(max_us - ts_us) div $dayUs"))
        graft.operators.Stats.decayedSum(aged, Seq("user_id"),
            col("cents"), col("age"), maxAge = 30)
          .withColumnRenamed("decayed", "decayed_cents")
          .orderBy("user_id")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events),
        mx AS (SELECT max(ts_us) AS max_us FROM ev)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents * CAST(power(2.0,
                 30 - least((max_us - ts_us) // 86400000000, 30))
                 AS BIGINT)) AS BIGINT) AS decayed_cents
        FROM ev CROSS JOIN mx
        GROUP BY user_id ORDER BY user_id""")),

    // ------------------------------------------------------------------
    // Per-group feature standardization: z-score of document length
    // within each language, in the division-free integer-moment form
    // z = (n·x − Σx) / sqrt(n·Σx² − (Σx)²) — exact integer numerator,
    // one IEEE sqrt + one divide (the q55/q91 moment trick applied
    // per row). One moments agg + one keyed join back; no window.
    QuerySpec("q106_zscore_normalize",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        graft.operators.Stats.zscore(docs, Seq("lang"), col("n_chars"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("z_micros"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH st AS (
          SELECT lang,
                 CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sx,
                 CAST(sum(CAST(n_chars AS HUGEINT)
                          * CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sxx
          FROM documents GROUP BY lang)
        SELECT d.doc_id, d.lang, d.n_chars,
               CASE WHEN st.n * st.sxx - st.sx * st.sx > 0
                    THEN ${Exact.microsSql(
                      "CAST(st.n * d.n_chars - st.sx AS DOUBLE)" +
                      " / sqrt(CAST(st.n * st.sxx - st.sx * st.sx" +
                      " AS DOUBLE))")}
                    ELSE 0 END AS z_micros
        FROM documents d JOIN st USING (lang)
        ORDER BY d.doc_id""")),

    // ------------------------------------------------------------------
    // Time-series gap filling: each user's sparse daily activity series
    // densified to one row per day of their own [first, last] span,
    // missing days filled with zeros and flagged — the resample pass
    // that makes lag()/EWMA/day-over-day correct on sparse data. One
    // bounds agg + calendar-bounded explode + one co-keyed left join.
    QuerySpec("q109_gap_fill",
      (s, dir) => {
        val dayUs = 86400000000L
        val daily = Tables.events(s, dir)
          .groupBy(col("user_id"),
            expr(s"(ts div 1000) div $dayUs").as("day"))
          .agg(count(lit(1)).as("n_events"),
            sum(Exact.cents(col("value"))).as("cents"))
        graft.operators.TimeSeries.gapFill(daily, Seq("user_id"), "day",
            fill = Map("n_events" -> lit(0L), "cents" -> lit(0L)))
          .orderBy("user_id", "day")
      },
      Some("""
        WITH daily AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                 count(*) AS n_events,
                 CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                      AS BIGINT) AS cents
          FROM events GROUP BY 1, 2),
        b AS (SELECT user_id, min(day) AS d0, max(day) AS d1
              FROM daily GROUP BY user_id),
        dense AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
                  FROM b)
        SELECT d.user_id, CAST(d.day AS BIGINT) AS day,
               CAST(coalesce(t.n_events, 0) AS BIGINT) AS n_events,
               CAST(coalesce(t.cents, 0) AS BIGINT) AS cents,
               (t.user_id IS NULL) AS is_gap
        FROM dense d LEFT JOIN daily t
          ON d.user_id = t.user_id AND d.day = t.day
        ORDER BY d.user_id, d.day""")),

    // ------------------------------------------------------------------
    // Balanced (exactly-k-per-group) deterministic sample: 50 docs per
    // language by hash rank — the class-balancing subsample (rate-based
    // sampling keeps groups proportional; this equalizes them). Rank
    // order is (hash, key), never arrival order, so the pick is stable
    // across runs and partitionings; the rank<=k filter plans
    // WindowGroupLimit (groups pre-prune to k before any full sort).
    QuerySpec("q110_balanced_sample",
      (s, dir) => Sampling.balancedSample(
          Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          Seq("lang"), col("doc_id").cast("string"), k = 50)
        .select(col("doc_id"), col("lang"), col("rank"))
        .orderBy("lang", "rank"),
      Some("""
        WITH r AS (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang ORDER BY
                   CAST(('0x' || substring(md5('balance|' || doc_id), 1, 15))
                        AS BIGINT) % 1073741824,
                   CAST(doc_id AS VARCHAR)) AS rank
          FROM documents)
        SELECT doc_id, lang, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 50 ORDER BY lang, rank""")),

    // ------------------------------------------------------------------
    // Retention cohort matrix: users grouped by first-activity week
    // (cohort), distinct active users per (cohort, week offset) — the
    // product-analytics retention triangle. Two keyed aggs + one join;
    // the countDistinct shuffles (cohort, offset, user) triples, all
    // integer keys.
    QuerySpec("q111_retention_cohorts",
      (s, dir) => {
        val weekUs = 7L * 86400000000L
        val ev = Tables.events(s, dir)
          .select(col("user_id"),
            expr(s"(ts div 1000) div $weekUs").as("week"))
        val first = ev.groupBy("user_id").agg(min("week").as("cohort"))
        ev.join(first, "user_id")
          .groupBy(col("cohort"),
            (col("week") - col("cohort")).as("week_offset"))
          .agg(countDistinct("user_id").as("users"))
          .orderBy("cohort", "week_offset")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) // 604800000000 AS week
          FROM events),
        first AS (SELECT user_id, min(week) AS cohort
                  FROM ev GROUP BY user_id)
        SELECT f.cohort, e.week - f.cohort AS week_offset,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS users
        FROM ev e JOIN first f USING (user_id)
        GROUP BY 1, 2 ORDER BY cohort, week_offset""")),

    // ------------------------------------------------------------------
    // Behavioral transition matrix: consecutive event-type bigrams per
    // user (lead over the per-user timeline) with transition
    // probabilities — the Markov-chain view of user behavior. One
    // user-keyed window + one hash-agg; p = cnt/row-total is a single
    // IEEE divide per cell.
    QuerySpec("q112_event_transitions",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("event_id"))
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("ts div 1000").as("ts_us"))
        val bi = ev.withColumn("to_type", lead("event_type", 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("cnt"))
        val tot = bi.groupBy("from_type").agg(sum("cnt").as("total"))
        bi.join(tot, "from_type")
          .select(col("from_type"), col("to_type"), col("cnt"),
            Exact.micros(col("cnt").cast("double") /
              col("total").cast("double")).as("p_micros"))
          .orderBy("from_type", "to_type")
      },
      Some(s"""
        WITH ev AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
          FROM events),
        bi AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS to_type
          FROM ev),
        cnts AS (
          SELECT from_type, to_type, count(*) AS cnt
          FROM bi WHERE to_type IS NOT NULL GROUP BY 1, 2),
        tot AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS total
                FROM cnts GROUP BY 1)
        SELECT c.from_type, c.to_type, CAST(c.cnt AS BIGINT) AS cnt,
               ${Exact.microsSql(
                 "CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE)")}
                 AS p_micros
        FROM cnts c JOIN tot t USING (from_type)
        ORDER BY from_type, to_type""")),

    // ------------------------------------------------------------------
    // Equal-frequency quartile binning of document length against
    // EXACT percentile cutoffs broadcast back — the scale-safe form of
    // a global ntile() (q99's caveat made real: no global sort, the
    // cutoff side is one row, labels are scan-stage arithmetic).
    // Cutoffs are bit-identical cross-engine (q50 parity), so every
    // boundary comparison agrees.
    QuerySpec("q113_quantile_binning",
      (s, dir) => graft.operators.Stats.quantileBuckets(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
          "n_chars", Seq(0.25, 0.5, 0.75))
        .orderBy("doc_id"),
      Some("""
        WITH cuts AS (
          SELECT quantile_cont(n_chars, 0.25) AS b1,
                 quantile_cont(n_chars, 0.5)  AS b2,
                 quantile_cont(n_chars, 0.75) AS b3
          FROM documents)
        SELECT d.doc_id, d.n_chars,
               CAST(CASE WHEN d.n_chars > c.b1 THEN 1 ELSE 0 END +
                    CASE WHEN d.n_chars > c.b2 THEN 1 ELSE 0 END +
                    CASE WHEN d.n_chars > c.b3 THEN 1 ELSE 0 END
                 AS BIGINT) AS bucket
        FROM documents d CROSS JOIN cuts c
        ORDER BY d.doc_id""")),

    // ------------------------------------------------------------------
    // Robust outliers via the modified z-score (Iglewicz-Hoaglin 1993):
    // 0.6745*|x - median| > 3.5*MAD per language — the fence the q55
    // mean/sigma rule can't give when outliers distort sigma itself.
    // Both medians inherit the q50 interpolation parity, so the
    // comparison is engine-exact; division-free form on both sides.
    QuerySpec("q114_mad_outliers",
      (s, dir) => graft.operators.Stats.madOutliers(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("lang"), "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          Exact.micros(col("med")).as("med_micros"),
          Exact.micros(col("mad")).as("mad_micros"),
          col("is_outlier"))
        .orderBy("doc_id"),
      Some("""
        WITH med AS (
          SELECT lang, quantile_cont(n_chars, 0.5) AS med
          FROM documents GROUP BY lang),
        dev AS (
          SELECT d.doc_id, d.lang, d.n_chars, m.med,
                 abs(d.n_chars - m.med) AS adev
          FROM documents d JOIN med m USING (lang)),
        mad AS (
          SELECT lang, quantile_cont(adev, 0.5) AS mad
          FROM dev GROUP BY lang)
        SELECT v.doc_id, v.lang, v.n_chars,
               CAST(floor(v.med * 1000000 + 0.5) AS BIGINT) AS med_micros,
               CAST(floor(a.mad * 1000000 + 0.5) AS BIGINT) AS mad_micros,
               (a.mad > 0 AND 0.6745 * v.adev > 3.5 * a.mad) AS is_outlier
        FROM dev v JOIN mad a USING (lang)
        ORDER BY v.doc_id""")),

    // ------------------------------------------------------------------
    // Peak concurrency (sweep-line): the max number of shipments
    // simultaneously in transit per supplier — transit window is the
    // half-open [ship, ship + quantity days). JOIN-FREE where the naive
    // formulation self-joins intervals (quadratic under skew):
    // ±1 deltas, pre-summed per (key, instant) so equal timestamps have
    // no ordering ambiguity, then max prefix sum. All integer µs
    // arithmetic — exact on both engines.
    QuerySpec("q119_peak_concurrency",
      (s, dir) => {
        val dayUs = 86400000000L
        val iv = Tables.lineitem(s, dir).select(
          col("l_suppkey").as("suppkey"),
          // NTZ → timestamp under the UTC session tz, so unix_micros
          // matches DuckDB's epoch_us on the naive value.
          expr("unix_micros(cast(l_shipdate as timestamp))").as("t0"),
          (expr("unix_micros(cast(l_shipdate as timestamp))") +
            col("l_quantity").cast("long") * dayUs).as("t1"))
        graft.operators.TimeSeries.peakConcurrency(iv,
            Seq("suppkey"), "t0", "t1")
          .orderBy("suppkey")
      },
      Some("""
        WITH iv AS (
          SELECT l_suppkey AS suppkey, epoch_us(l_shipdate) AS t0,
                 epoch_us(l_shipdate) +
                   CAST(l_quantity AS BIGINT) * 86400000000 AS t1
          FROM lineitem),
        d AS (
          SELECT suppkey, t0 AS t, 1 AS dd FROM iv
          UNION ALL
          SELECT suppkey, t1, -1 FROM iv),
        g AS (
          SELECT suppkey, t, CAST(sum(dd) AS BIGINT) AS dd
          FROM d GROUP BY suppkey, t),
        r AS (
          SELECT suppkey,
                 sum(dd) OVER (PARTITION BY suppkey ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM g)
        SELECT suppkey, CAST(max(run) AS BIGINT) AS peak
        FROM r GROUP BY suppkey ORDER BY suppkey""")),

    // ------------------------------------------------------------------
    // Covered (union-of-intervals) duration per supplier — q119's
    // complementary measure: not HOW MANY shipments overlap at the
    // worst instant, but how much wall-clock the supplier's transit
    // windows cover at all (the SLA-uptime shape, where Σ(end−start)
    // over-counts every overlap). Same join-free sweep line; one keyed
    // window runs the prefix sum AND leads to the next instant, and a
    // segment counts iff its open-count is positive. Exact integer µs.
    QuerySpec("q179_interval_coverage",
      (s, dir) => {
        val dayUs = 86400000000L
        val iv = Tables.lineitem(s, dir).select(
          col("l_suppkey").as("suppkey"),
          expr("unix_micros(cast(l_shipdate as timestamp))").as("t0"),
          (expr("unix_micros(cast(l_shipdate as timestamp))") +
            col("l_quantity").cast("long") * dayUs).as("t1"))
        graft.operators.TimeSeries.coveredDuration(iv,
            Seq("suppkey"), "t0", "t1")
          .orderBy("suppkey")
      },
      Some("""
        WITH iv AS (
          SELECT l_suppkey AS suppkey, epoch_us(l_shipdate) AS t0,
                 epoch_us(l_shipdate) +
                   CAST(l_quantity AS BIGINT) * 86400000000 AS t1
          FROM lineitem),
        d AS (
          SELECT suppkey, t0 AS t, 1 AS dd FROM iv
          UNION ALL
          SELECT suppkey, t1, -1 FROM iv),
        g AS (
          SELECT suppkey, t, CAST(sum(dd) AS BIGINT) AS dd
          FROM d GROUP BY suppkey, t),
        r AS (
          SELECT suppkey, t,
                 sum(dd) OVER (PARTITION BY suppkey ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run,
                 lead(t) OVER (PARTITION BY suppkey ORDER BY t) AS nt
          FROM g)
        SELECT suppkey,
               CAST(sum(CASE WHEN run > 0 AND nt IS NOT NULL
                             THEN nt - t ELSE 0 END) AS BIGINT) AS covered
        FROM r GROUP BY suppkey ORDER BY suppkey""")),

    // ------------------------------------------------------------------
    // Interval-overlap self-join: pairs of shipments of the SAME part
    // from the SAME supplier whose transit windows overlap — the
    // conflicting-concurrent-shipment detector. The join is a plain
    // equi-join on the (part, supp) composite key (groups are a few
    // rows each; the quadratic blowup of a time-bucketed interval join
    // is not needed when a natural equi-key bounds the group), with the
    // half-open overlap predicate t0a < t1b AND t0b < t1a as a post-join
    // filter. Overlap duration is exact integer µs.
    QuerySpec("q120_overlap_pairs",
      (s, dir) => {
        val dayUs = 86400000000L
        val iv = Tables.lineitem(s, dir).select(
          col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"),
          col("l_orderkey").as("okey"), col("l_linenumber").as("lno"),
          expr("unix_micros(cast(l_shipdate as timestamp))").as("t0"),
          (expr("unix_micros(cast(l_shipdate as timestamp))") +
            col("l_quantity").cast("long") * dayUs).as("t1"))
        val a = iv.select(col("partkey"), col("suppkey"),
          col("okey").as("okey_a"), col("lno").as("lno_a"),
          col("t0").as("t0_a"), col("t1").as("t1_a"))
        val b = iv.select(col("partkey"), col("suppkey"),
          col("okey").as("okey_b"), col("lno").as("lno_b"),
          col("t0").as("t0_b"), col("t1").as("t1_b"))
        a.join(b, Seq("partkey", "suppkey"))
          .filter((col("okey_a") < col("okey_b")) ||
            (col("okey_a") === col("okey_b") && col("lno_a") < col("lno_b")))
          .filter(col("t0_a") < col("t1_b") && col("t0_b") < col("t1_a"))
          .groupBy("suppkey")
          .agg(count(lit(1)).as("overlap_pairs"),
            sum(least(col("t1_a"), col("t1_b")) -
              greatest(col("t0_a"), col("t0_b"))).as("overlap_us"))
          .orderBy("suppkey")
      },
      Some("""
        WITH iv AS (
          SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                 l_orderkey AS okey, l_linenumber AS lno,
                 epoch_us(l_shipdate) AS t0,
                 epoch_us(l_shipdate) +
                   CAST(l_quantity AS BIGINT) * 86400000000 AS t1
          FROM lineitem)
        SELECT a.suppkey, count(*) AS overlap_pairs,
               CAST(sum(least(a.t1, b.t1) - greatest(a.t0, b.t0))
                 AS BIGINT) AS overlap_us
        FROM iv a JOIN iv b
          ON a.partkey = b.partkey AND a.suppkey = b.suppkey
         AND (a.okey < b.okey OR (a.okey = b.okey AND a.lno < b.lno))
         AND a.t0 < b.t1 AND b.t0 < a.t1
        GROUP BY a.suppkey ORDER BY a.suppkey""")),

    // ------------------------------------------------------------------
    // Key-skew profile: the top-20 heaviest join-key values with exact
    // integer ppm shares — the diagnostic that decides between a plain
    // shuffle join, a broadcast, or salting (q48). One histogram
    // hash-agg + a WindowGroupLimit top-K over the bounded histogram;
    // no floats anywhere.
    QuerySpec("q126_key_skew",
      (s, dir) => graft.operators.Profile.keySkew(
          Tables.lineitem(s, dir), "l_partkey", topK = 20)
        .orderBy("rank"),
      Some("""
        WITH c AS (
          SELECT l_partkey AS key_val, count(*) AS cnt
          FROM lineitem GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        r AS (
          SELECT key_val, cnt,
                 row_number() OVER (ORDER BY cnt DESC, key_val) AS rank,
                 CAST(sum(cnt) OVER (ORDER BY cnt DESC, key_val
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM c)
        SELECT rank, key_val, cnt,
               cnt * 1000000 // total AS share_ppm,
               cum * 1000000 // total AS cum_ppm
        FROM r, t WHERE rank <= 20 ORDER BY rank""")),

    // ------------------------------------------------------------------
    // Last-touch attribution: every purchase credited to the user's most
    // recent click/view within a 7-day lookback, else 'organic' — the
    // standard marketing-attribution model, built on the AsOf operator
    // (one shuffle, no range blow-up; the lookback is a post-join
    // predicate, NOT a range join). Touches pre-deduped per (user, ts)
    // by max(struct) ≡ the oracle's row_number DESC rule; revenue snaps
    // to cents per row before the exact BIGINT sum.
    QuerySpec("q127_attribution",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("ts_us", expr("ts div 1000"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"), col("value"))
        val touches = ev.filter(col("event_type").isin("click", "view"))
          .groupBy(col("user_id"), col("ts_us").as("tts"))
          .agg(max(struct(col("event_type"), col("event_id"))).as("m"))
          .select(col("user_id"), col("tts"),
            col("m.event_type").as("touch"))
        val lookbackUs = 7L * 86400000000L
        graft.operators.AsOf.join(purchases, touches, Seq("user_id"),
            "ts_us", "tts")
          .select(
            when(col("r_tts").isNotNull &&
              col("r_tts") >= col("ts_us") - lit(lookbackUs),
              col("r_touch")).otherwise(lit("organic")).as("channel"),
            col("value"))
          .groupBy("channel")
          .agg(count(lit(1)).as("purchases"),
            sum(Exact.cents(col("value"))).as("revenue_cents"))
          .orderBy("channel")
      },
      Some(s"""
        WITH ev AS (
          SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
                 value
          FROM events),
        purch AS (
          SELECT user_id, ts_us, value FROM ev
          WHERE event_type = 'purchase'),
        touch AS (
          SELECT user_id, tts, event_type AS touch FROM (
            SELECT user_id, ts_us AS tts, event_type,
                   row_number() OVER (PARTITION BY user_id, ts_us
                     ORDER BY event_type DESC, event_id DESC) AS rn
            FROM ev WHERE event_type IN ('click', 'view'))
          WHERE rn = 1),
        j AS (
          SELECT p.ts_us, p.value, t.tts, t.touch
          FROM purch p ASOF LEFT JOIN touch t
            ON p.user_id = t.user_id AND p.ts_us >= t.tts)
        SELECT CASE WHEN tts IS NOT NULL
                     AND tts >= ts_us - 604800000000
                    THEN touch ELSE 'organic' END AS channel,
               count(*) AS purchases,
               CAST(sum(${Exact.centsSql("value")}) AS BIGINT)
                 AS revenue_cents
        FROM j GROUP BY channel ORDER BY channel""")),

    // ------------------------------------------------------------------
    // Multi-step conversion funnel: signup -> view -> click -> purchase,
    // each step strictly after the user's FIRST completion of the
    // previous step. The classic product-analytics operator. Shape: one
    // keyed min-agg per step, each joined to the previous step's
    // timestamps — every agg and join keys on user_id, so at scale the
    // exchange is planned once and reused; no window over the full event
    // stream, no per-user array materialization.
    QuerySpec("q128_funnel",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("ts_us"))
        def step(prev: org.apache.spark.sql.DataFrame, et: String,
                 tPrev: String, tCur: String) =
          ev.filter(col("event_type") === et)
            .join(prev.select("user_id", tPrev), Seq("user_id"))
            .filter(col("ts_us") > col(tPrev))
            .groupBy("user_id").agg(min("ts_us").as(tCur))
        val s1 = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts_us").as("t1"))
        val s2 = step(s1, "view", "t1", "t2")
        val s3 = step(s2, "click", "t2", "t3")
        val s4 = step(s3, "purchase", "t3", "t4")
        def cnt(df: org.apache.spark.sql.DataFrame, n: Int, nm: String) =
          df.agg(count(lit(1)).as("users"))
            .select(lit(n).as("stage"), lit(nm).as("step"), col("users"))
        cnt(s1, 1, "signup").union(cnt(s2, 2, "view"))
          .union(cnt(s3, 3, "click")).union(cnt(s4, 4, "purchase"))
          .orderBy("stage")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        s1 AS (SELECT user_id, min(ts_us) AS t1 FROM ev
               WHERE event_type = 'signup' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts_us) AS t2 FROM ev e
               JOIN s1 USING (user_id)
               WHERE e.event_type = 'view' AND e.ts_us > s1.t1 GROUP BY 1),
        s3 AS (SELECT e.user_id, min(e.ts_us) AS t3 FROM ev e
               JOIN s2 USING (user_id)
               WHERE e.event_type = 'click' AND e.ts_us > s2.t2 GROUP BY 1),
        s4 AS (SELECT e.user_id, min(e.ts_us) AS t4 FROM ev e
               JOIN s3 USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts_us > s3.t3
               GROUP BY 1)
        SELECT stage, step, users FROM (
          SELECT 1 AS stage, 'signup' AS step,
                 CAST(count(*) AS BIGINT) AS users FROM s1
          UNION ALL SELECT 2, 'view', CAST(count(*) AS BIGINT) FROM s2
          UNION ALL SELECT 3, 'click', CAST(count(*) AS BIGINT) FROM s3
          UNION ALL SELECT 4, 'purchase', CAST(count(*) AS BIGINT) FROM s4)
        ORDER BY stage""")),

    // ------------------------------------------------------------------
    // CDC capture over a RAW observation stream: change-point
    // compression (StoreOps.changePoints — keep only rows where the
    // derived 4-level "tier" differs from the user's previous
    // observation), then the existing StoreOps.scd2 interval build.
    // Distinct from q75, whose input already IS a change stream — this
    // is the front end that makes scd2 applicable to noisy repeated
    // readings. Both windows share one user_id shuffle + sort;
    // event_id tie-break keeps the history deterministic.
    QuerySpec("q129_scd2",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            expr("ts div 1000").as("ts_us"),
            (regexp_extract(col("props"), "[0-9]+", 0).cast("int") % 4)
              .as("tier"))
        val chg = graft.store.StoreOps.changePoints(ev, Seq("user_id"),
          "ts_us", "tier", tieBreak = Seq("event_id"))
        graft.store.StoreOps.scd2(chg, Seq("user_id"), "ts_us",
            tieBreak = Seq("event_id"))
          .select(col("user_id"), col("tier"),
            col("valid_from"), col("valid_to"))
          .orderBy("user_id", "valid_from")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 CAST(regexp_extract(props, '[0-9]+') AS INT) % 4 AS tier
          FROM events),
        c AS (SELECT *, lag(tier) OVER
                (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
              FROM ev),
        chg AS (SELECT user_id, event_id, tier, ts_us FROM c
                WHERE prev IS NULL OR prev <> tier)
        SELECT user_id, tier, ts_us AS valid_from,
               lead(ts_us) OVER
                 (PARTITION BY user_id ORDER BY ts_us, event_id)
                 AS valid_to
        FROM chg ORDER BY user_id, valid_from""")),

    // ------------------------------------------------------------------
    // One-pass column profiler — the data-quality sweep a pipeline runs
    // before ingesting a new drop: per-column row/null counts, exact
    // distinct cardinality, lexicographic min/max. ONE scan via
    // stack() (the oracle's 6-scan UNION ALL is the semantic spec, not
    // the plan); numerics are zero-padded to width 12 so lexicographic
    // min/max == numeric min/max. Exact ndv shuffles (col, val) pairs —
    // the honest cost of exactness; at 100 TB swap the ndv column for
    // the mergeable HLL path (q103/q132) and keep the rest identical.
    QuerySpec("q131_column_profile",
      // widen before the stack: the 6-way stack + lpad string
      // formatting is scan-stage CPU (7.5 s in one 3-task stage at
      // sf0.1 — the single-row-group file plans 1-3 scan tasks);
      // project to the 6 profiled columns first so the exchange
      // carries only them, a no-op at production scan widths
      (s, dir) => graft.util.Par.widen(Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_returnflag", "l_linestatus", "l_shipdate"))
        .selectExpr("""stack(6,
            'l_orderkey',   lpad(cast(l_orderkey as string), 12, '0'),
            'l_linenumber', lpad(cast(l_linenumber as string), 12, '0'),
            'l_quantity_cents',
              lpad(cast(cast(floor(l_quantity * 100 + 0.5) as bigint)
                        as string), 12, '0'),
            'l_returnflag', l_returnflag,
            'l_linestatus', l_linestatus,
            'l_shipdate',   date_format(l_shipdate, 'yyyy-MM-dd')
          ) as (col_name, val)""")
        .groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          count(col("val")).as("n_nonnull"),
          countDistinct(col("val")).as("ndv"),
          min("val").as("min_val"),
          max("val").as("max_val"))
        .orderBy("col_name"),
      Some("""
        WITH u AS (
          SELECT 'l_orderkey' AS col_name,
                 lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS val
          FROM lineitem
          UNION ALL SELECT 'l_linenumber',
                 lpad(CAST(l_linenumber AS VARCHAR), 12, '0') FROM lineitem
          UNION ALL SELECT 'l_quantity_cents',
                 lpad(CAST(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                           AS VARCHAR), 12, '0') FROM lineitem
          UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
          UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem
          UNION ALL SELECT 'l_shipdate', strftime(l_shipdate, '%Y-%m-%d')
          FROM lineitem)
        SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(val) AS BIGINT) AS n_nonnull,
               CAST(count(DISTINCT val) AS BIGINT) AS ndv,
               min(val) AS min_val, max(val) AS max_val
        FROM u GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Association rules (market-basket): part pairs co-occurring in
    // >=3 orders, with confidence both ways and lift, all in exact
    // integer ppm. The pair join is keyed on the order — fan-out is
    // items-per-basket squared (TPC-H: ~4² per order), NEVER corpus-
    // squared; item supports and the basket total ride broadcastable
    // aggregates. The 100 TB shape of "frequently bought together".
    QuerySpec("q130_assoc_rules",
      (s, dir) => {
        val it = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey").distinct()
        val isup = it.groupBy("l_partkey").agg(count(lit(1)).as("isup"))
        val nOrders = it.agg(
          countDistinct(col("l_orderkey")).as("n_orders"))
        it.select(col("l_orderkey"), col("l_partkey").as("pa"))
          .join(it.select(col("l_orderkey"), col("l_partkey").as("pb")),
            Seq("l_orderkey"))
          .filter(col("pa") < col("pb"))
          .groupBy("pa", "pb").agg(count(lit(1)).as("supp"))
          .filter(col("supp") >= 3)
          .join(isup.select(col("l_partkey").as("pa"),
            col("isup").as("sa")), Seq("pa"))
          .join(isup.select(col("l_partkey").as("pb"),
            col("isup").as("sb")), Seq("pb"))
          .crossJoin(nOrders)
          .select(col("pa"), col("pb"), col("supp"),
            expr("supp * 1000000 div sa").as("conf_ab_ppm"),
            expr("supp * 1000000 div sb").as("conf_ba_ppm"),
            expr("supp * n_orders * 1000000 div (sa * sb)")
              .as("lift_ppm"))
          .orderBy("pa", "pb")
      },
      Some("""
        WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        isup AS (SELECT l_partkey, count(*) AS isup FROM it GROUP BY 1),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM it),
        p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                     count(*) AS supp
              FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= 3)
        SELECT pa, pb, supp,
               supp * 1000000 // sa.isup AS conf_ab_ppm,
               supp * 1000000 // sb.isup AS conf_ba_ppm,
               supp * n_orders * 1000000 // (sa.isup * sb.isup)
                 AS lift_ppm
        FROM p JOIN isup sa ON sa.l_partkey = p.pa
               JOIN isup sb ON sb.l_partkey = p.pb, n
        ORDER BY pa, pb""")),

    // ------------------------------------------------------------------
    // Referential-integrity audit — the pre-ingest FK sweep of a
    // warehouse load: per relation, child rows vs orphans (left anti
    // join against the parent's key set). One relation audits against a
    // DELIBERATELY partial parent (every 10th order dropped) so the
    // orphan path is exercised, the others assert the clean case. The
    // anti-join build side is just the parent KEY column — at 100 TB
    // each audit is one broadcast (or one keyed shuffle) per relation,
    // never a full-row join.
    QuerySpec("q134_fk_audit",
      (s, dir) => {
        def audit(rel: String,
                  child: org.apache.spark.sql.DataFrame, key: String,
                  parent: org.apache.spark.sql.DataFrame, pkey: String) = {
          val orphans = child.select(col(key).as("k"))
            .join(parent.select(col(pkey).as("k")).distinct(),
              Seq("k"), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
          child.agg(count(lit(1)).as("n_children")).crossJoin(orphans)
            .select(lit(rel).as("relation"), col("n_children"),
              col("n_orphans"))
        }
        val cust = Tables.customer(s, dir)
        val ord = Tables.orders(s, dir)
        audit("events.user_id->customer",
            Tables.events(s, dir).select("user_id"), "user_id",
            cust, "c_custkey")
          .union(audit("lineitem.l_orderkey->orders_partial",
            Tables.lineitem(s, dir).select("l_orderkey"), "l_orderkey",
            ord.filter(col("o_orderkey") % 10 =!= 0), "o_orderkey"))
          .union(audit("orders.o_custkey->customer",
            ord.select("o_custkey"), "o_custkey", cust, "c_custkey"))
          .orderBy("relation")
      },
      Some("""
        SELECT * FROM (
          SELECT 'events.user_id->customer' AS relation,
            (SELECT count(*) FROM events) AS n_children,
            (SELECT count(*) FROM events e WHERE NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
              AS n_orphans
          UNION ALL
          SELECT 'lineitem.l_orderkey->orders_partial',
            (SELECT count(*) FROM lineitem),
            (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
              (SELECT 1 FROM orders o WHERE o.o_orderkey % 10 <> 0
                 AND o.o_orderkey = l.l_orderkey))
          UNION ALL
          SELECT 'orders.o_custkey->customer',
            (SELECT count(*) FROM orders),
            (SELECT count(*) FROM orders o WHERE NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        ORDER BY relation""")),

    // ------------------------------------------------------------------
    // Seasonal anomaly detection: event volume per (day, hour-of-day)
    // cell vs that HOUR's cross-day baseline — the traffic-monitoring
    // shape where 3am and 3pm have different normals. The 2.5-sigma
    // test runs DIVISION-FREE on exact integer moments (m, S, S²):
    // (m·n − S)²·(m−1)·4 > 25·m·(m·Sq − S²) ⟺ (n − mean)² > 6.25·var,
    // so both engines compare identical BIGINTs — no float snapping at
    // all. Hour extraction is pure integer arithmetic on the ns clock.
    // (Zero-event cells are absent by construction; compose with
    // q109's gapFill when silence itself is the anomaly.)
    QuerySpec("q135_seasonal_anomaly",
      (s, dir) => {
        val cells = Tables.events(s, dir)
          .groupBy(expr("ts div 86400000000000").as("day"),
            expr("(ts div 3600000000000) % 24").as("hr"))
          .agg(count(lit(1)).as("n"))
        val stats = cells.groupBy("hr").agg(count(lit(1)).as("m"),
          sum("n").as("s"), sum(col("n") * col("n")).as("sq"))
        cells.join(stats, Seq("hr"))
          .filter(expr("(m * n - s) * (m * n - s) * (m - 1) * 4" +
            " > 25 * m * (m * sq - s * s)"))
          .select(col("day"), col("hr"), col("n"))
          .orderBy("day", "hr")
      },
      Some("""
        WITH cells AS (
          SELECT epoch_us(ts) // 86400000000 AS day,
                 epoch_us(ts) // 3600000000 % 24 AS hr, count(*) AS n
          FROM events GROUP BY 1, 2),
        stats AS (
          SELECT hr, count(*) AS m, CAST(sum(n) AS BIGINT) AS s,
                 CAST(sum(n * n) AS BIGINT) AS sq
          FROM cells GROUP BY 1)
        SELECT c.day, c.hr, c.n
        FROM cells c JOIN stats t USING (hr)
        WHERE (t.m * c.n - t.s) * (t.m * c.n - t.s) * (t.m - 1) * 4
              > 25 * t.m * (t.m * t.sq - t.s * t.s)
        ORDER BY day, hr""")),

    // ------------------------------------------------------------------
    // Domain-reweighted mixture sampling (the data-recipe step): target
    // 25% en / 18.75% each other lang out of a 250-doc budget. `en` is
    // ~3x over-represented in the corpus, so its keep-rate lands at
    // ~29% while the minority langs keep ~67% — the engine computes
    // rate_s = min(1, budget*w_s/n_s) from a #domains-sized broadcast
    // count table and the corpus never shuffles. Weights are exact
    // binary fractions so Spark's double and DuckDB's decimal-derived
    // rates agree bit-for-bit.
    // ------------------------------------------------------------------
    // Grouped OLS trend line (slope/intercept/R²) per return flag:
    // quantity vs line revenue, via ONE exact-integer-moment rollup
    // (Stats.linearFit). The float tail is casts + IEEE ops on
    // bit-identical exact sums, so the micros snap matches DuckDB's.
    QuerySpec("q138_linear_fit",
      (s, dir) => {
        graft.operators.Stats.linearFit(Tables.lineitem(s, dir),
            Seq("l_returnflag"),
            col("l_quantity").cast("long"),
            Exact.cents(col("l_extendedprice")))
          .orderBy("l_returnflag")
      },
      Some {
        val y = Exact.centsSql("l_extendedprice")
        s"""
        WITH m AS (
          SELECT l_returnflag,
                 count(*) AS n,
                 sum(CAST(l_quantity AS BIGINT)) AS sx,
                 sum($y) AS sy,
                 sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS sxx,
                 sum($y * $y) AS syy,
                 sum(CAST(l_quantity AS BIGINT) * $y) AS sxy
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
          CASE WHEN n*sxx - sx*sx > 0 THEN ${Exact.microsSql(
            "CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)")}
          END AS slope_micros,
          CASE WHEN n*sxx - sx*sx > 0 THEN ${Exact.microsSql(
            "(CAST(sy AS DOUBLE) - " +
              "CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)" +
              " * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)")}
          END AS intercept_micros,
          CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
            THEN ${Exact.microsSql(
              "CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)" +
                " / (CAST(n*sxx - sx*sx AS DOUBLE) * " +
                "CAST(n*syy - sy*sy AS DOUBLE))")}
          END AS r2_micros
        FROM m ORDER BY l_returnflag"""
      }),

    // ------------------------------------------------------------------
    // Per-user Shannon entropy (nats) of the event-type distribution —
    // the behavioural-diversity / distribution-collapse probe. Two
    // hash-aggs; per-term micros snap before the sum (q62/q79 ln rule).
    QuerySpec("q143_event_entropy",
      (s, dir) => {
        graft.operators.Stats.entropy(Tables.events(s, dir),
            Seq("user_id"), col("event_type"))
          .orderBy("user_id")
      },
      Some {
        val p = "CAST(c.c AS DOUBLE) / CAST(t.t AS DOUBLE)"
        s"""
        WITH c AS (
          SELECT user_id, event_type, count(*) AS c
          FROM events GROUP BY 1, 2),
        t AS (SELECT user_id, sum(c) AS t FROM c GROUP BY 1)
        SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_cats,
               CAST(-sum(${Exact.microsSql(s"($p) * ln($p)")}) AS BIGINT)
                 AS entropy_micros
        FROM c JOIN t USING (user_id)
        GROUP BY c.user_id ORDER BY c.user_id"""
      }),

    // ------------------------------------------------------------------
    // Per-user time-weighted average event value — trapezoidal
    // integration over irregular samples (TimeSeries.timeWeightedAvg):
    // exact integer numerator (cents × µs), one final divide.
    QuerySpec("q144_time_weighted_avg",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), expr("ts div 1000").as("ts_us"),
            col("value"), col("event_id"))
        graft.operators.TimeSeries.timeWeightedAvg(ev, Seq("user_id"),
            "ts_us", Exact.cents(col("value")), "event_id")
          .orderBy("user_id")
      },
      Some(s"""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS t,
                 ${Exact.centsSql("value")} AS v, event_id
          FROM events),
        st AS (
          SELECT user_id, t, v,
                 lead(t) OVER w AS tn, lead(v) OVER w AS vn
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_samples,
               CAST(max(t) - min(t) AS BIGINT) AS span_us,
               CASE WHEN max(t) - min(t) > 0 THEN ${Exact.microsSql(
          "CAST(sum((v + vn) * (tn - t)) AS DOUBLE) / " +
            "CAST(2 * (max(t) - min(t)) AS DOUBLE)")}
               END AS twa_micros
        FROM st GROUP BY user_id ORDER BY user_id""")),

    // ------------------------------------------------------------------
    // TPC-H Q17 shape: revenue from small-quantity lineitems of a part
    // subset, where "small" is part-relative (quantity < 0.2 × the
    // part's own average). The correlated scalar subquery becomes a
    // per-part moments agg joined back — and the 0.2·avg comparison is
    // DIVISION-FREE exact integers (5·q·n < Σq).
    QuerySpec("q145_small_qty_revenue",
      (s, dir) => {
        val parts = Tables.part(s, dir)
          .filter(col("p_size") % 7 === 0)
          .select(col("p_partkey"))
        val li = Tables.lineitem(s, dir)
          .join(broadcast(parts),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"),
            col("l_quantity").cast("long").as("q"),
            Exact.cents(col("l_extendedprice")).as("cents"))
        val stats = li.groupBy("l_partkey")
          .agg(count(lit(1)).as("n"), sum("q").as("sx"))
        li.join(stats, "l_partkey")
          .filter(lit(5L) * col("q") * col("n") < col("sx"))
          .agg(count(lit(1)).as("n_lineitems"),
            sum("cents").as("revenue_cents"))
      },
      Some(s"""
        WITH p AS (SELECT p_partkey FROM part WHERE p_size % 7 = 0),
        l AS (
          SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
                 ${Exact.centsSql("l_extendedprice")} AS cents
          FROM lineitem JOIN p ON l_partkey = p_partkey),
        st AS (
          SELECT l_partkey, count(*) AS n, sum(q) AS sx
          FROM l GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS n_lineitems,
               CAST(sum(l.cents) AS BIGINT) AS revenue_cents
        FROM l JOIN st USING (l_partkey)
        WHERE 5 * l.q * st.n < st.sx""")),

    QuerySpec("q137_mixture_sample",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Sampling.mixtureSample(docs, col("doc_id").cast("string"),
            col("lang"),
            targetWeights = Map("en" -> 0.25, "de" -> 0.1875,
              "es" -> 0.1875, "fr" -> 0.1875, "zh" -> 0.1875),
            budget = 250L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
          .orderBy("lang")
      },
      Some("""
        WITH counts AS (
          SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        rates AS (
          SELECT lang, least(1000000, CAST(floor(
              250.0 * (CASE WHEN lang = 'en' THEN 0.25 ELSE 0.1875 END)
              * 1000000.0 / CAST(n AS DOUBLE)) AS BIGINT)) AS num
          FROM counts),
        kept AS (
          SELECT d.lang, d.doc_id
          FROM documents d JOIN rates r USING (lang)
          WHERE CAST(('0x'||substring(md5('mixture|' || d.doc_id),1,15))
                  AS BIGINT) % 1000000 < r.num)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM kept GROUP BY lang ORDER BY lang""")),

    // ------------------------------------------------------------------
    // Skyline / Pareto frontier (Börzsönyi 2001): cheapest-price vs
    // largest-quantity tradeoffs nobody strictly beats. Two-phase
    // distributed pruning — per-bucket windowed sort-scan skylines
    // first (safe prune: dominated-in-subset ⇒ dominated-globally),
    // then the same scan over the surviving candidates only — never an
    // all-pairs dominance join. The oracle replays the sort-scan rule
    // as one window over distinct pairs.
    QuerySpec("q148_skyline_frontier",
      (s, dir) => graft.operators.Skyline.skyline2d(
          Tables.lineitem(s, dir),
          Exact.cents(col("l_extendedprice")),
          col("l_quantity").cast("long"))
        .select(col("lo").as("price_cents"), col("hi").as("qty"))
        .orderBy("price_cents"),
      Some(s"""
        WITH pts AS (
          SELECT DISTINCT ${Exact.centsSql("l_extendedprice")}
                   AS price_cents,
                 CAST(l_quantity AS BIGINT) AS qty
          FROM lineitem),
        w AS (
          SELECT price_cents, qty,
                 max(qty) OVER (ORDER BY price_cents ASC, qty DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS runmax
          FROM pts)
        SELECT price_cents, qty FROM w
        WHERE runmax IS NULL OR runmax < qty
        ORDER BY price_cents""")),

    // ------------------------------------------------------------------
    // TPC-H Q2 shape (min-cost supplier): per part, the supplier with
    // the lowest observed unit price (arg-min with supplier-key
    // tiebreak). The testdata has no partsupp, so unit cost is derived
    // from lineitem: min over the part×supplier group of the per-row
    // unit price (IEEE division is exactly rounded → identical in both
    // engines; snapped to integer cents before any aggregation). The
    // part filter joins BEFORE the heavy aggregation so the groupBy
    // only sees qualifying parts — at 100 TB the agg input shrinks 5×
    // at the scan, not after. The arg-min is one hash aggregation of a
    // lexicographic struct min — no window, no second shuffle; supplier
    // and nation ride in as broadcasts.
    QuerySpec("q150_min_cost_supplier",
      (s, dir) => {
        val parts = Tables.part(s, dir)
          .filter(col("p_size") % 5 === 0)
          .select("p_partkey", "p_brand")
        val supp = Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_name", "n_name")
        Tables.lineitem(s, dir)
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .select(col("p_partkey"), col("p_brand"), col("l_suppkey"),
            Exact.cents(col("l_extendedprice") / col("l_quantity"))
              .as("unit_cents"))
          .groupBy("p_partkey", "p_brand")
          .agg(min(struct(col("unit_cents"), col("l_suppkey"))).as("b"))
          .select(col("p_partkey"), col("p_brand"),
            col("b.unit_cents").as("cost_cents"),
            col("b.l_suppkey").as("s_suppkey"))
          .join(broadcast(supp), "s_suppkey")
          .select("p_partkey", "p_brand", "s_name", "n_name", "cost_cents")
          .orderBy("p_partkey")
      },
      Some(s"""
        WITH cost AS (
          SELECT p_partkey, p_brand, l_suppkey,
                 min(${Exact.centsSql("l_extendedprice / l_quantity")})
                   AS cost_cents
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_size % 5 = 0
          GROUP BY 1, 2, 3),
        best AS (
          SELECT p_partkey, p_brand, cost_cents, l_suppkey,
                 row_number() OVER (PARTITION BY p_partkey
                   ORDER BY cost_cents, l_suppkey) AS rn
          FROM cost)
        SELECT p_partkey, p_brand, s_name, n_name, cost_cents
        FROM best
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE rn = 1
        ORDER BY p_partkey""")),

    // ------------------------------------------------------------------
    // TPC-H Q21 shape (suppliers who kept orders waiting): orders with
    // ≥2 distinct suppliers where EXACTLY ONE supplier shipped late
    // (> 120 days after the order date) — charge that supplier. Q21's
    // exists/not-exists pair is re-expressed as one aggregation over
    // the per-order supplier set (n_supp ≥ 2 AND n_late = 1), which is
    // both simpler and scale-friendlier than two extra self-joins: one
    // shuffle on l_orderkey (join + both group-bys share it under AQE)
    // and one on l_suppkey for the final count.
    QuerySpec("q151_supplier_wait",
      (s, dir) => {
        val ord = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
        val so = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "l_suppkey")
          .agg(max(when(col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 120 DAYS"), 1L)
            .otherwise(0L)).as("late"))
        val perOrder = so.groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_supp"), sum("late").as("n_late"))
          .filter(col("n_supp") >= 2 && col("n_late") === 1)
        so.filter(col("late") === 1)
          .join(perOrder.select("l_orderkey"), "l_orderkey")
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("numwait"))
          .join(broadcast(Tables.supplier(s, dir)
            .select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select("s_name", "numwait")
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""
        WITH so AS (
          SELECT l_orderkey, l_suppkey,
                 max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY
                     THEN 1 ELSE 0 END) AS late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        po AS (
          SELECT l_orderkey
          FROM so GROUP BY 1
          HAVING count(*) >= 2 AND sum(late) = 1)
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM so JOIN po USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE so.late = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20""")),

    // ------------------------------------------------------------------
    // TPC-H Q22 shape (global sales opportunity): customers with an
    // account balance above the average positive balance who have never
    // ordered RECENTLY (the testdata has no order-less customers, so
    // the anti-join predicate is "no order since 2000-07-01" — same
    // shape, non-empty answer). The scalar subquery is a 1-row
    // broadcast crossJoin and the comparison stays integer-exact
    // (bal·n > Σbal avoids the float average); the NOT EXISTS is a
    // LEFT ANTI join against the distinct recent-order custkeys —
    // Spark's semi-join infrastructure, no correlated per-row subquery
    // execution, and the date filter prunes the orders scan first.
    QuerySpec("q152_cust_no_orders",
      (s, dir) => {
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"),
            Exact.cents(col("c_acctbal")).as("bal_cents"))
        val avgPos = cust.filter(col("bal_cents") > 0)
          .agg(sum("bal_cents").as("s"), count(lit(1)).as("n"))
        cust.crossJoin(broadcast(avgPos))
          .filter(col("bal_cents") * col("n") > col("s"))
          .join(Tables.orders(s, dir)
              .filter(col("o_orderdate") >= lit("2000-07-01"))
              .select("o_custkey").distinct(),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"),
            sum("bal_cents").as("bal_cents_sum"))
          .orderBy("c_mktsegment")
      },
      Some(s"""
        WITH c AS (
          SELECT c_custkey, c_mktsegment,
                 ${Exact.centsSql("c_acctbal")} AS bal_cents
          FROM customer),
        t AS (SELECT sum(bal_cents) AS s, count(*) AS n
              FROM c WHERE bal_cents > 0)
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(bal_cents) AS BIGINT) AS bal_cents_sum
        FROM c, t
        WHERE bal_cents * n > s
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-07-01')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ------------------------------------------------------------------
    // TPC-H Q11 shape (important stock): parts whose discounted revenue
    // exceeds 1.5× the per-part average — a global-fraction HAVING.
    // The global total is a second aggregation over the SAME per-part
    // aggregate (Spark reuses the shuffle under AQE; the 1-row total
    // rides back as a broadcast crossJoin), and the threshold compare
    // is integer-exact (2·rev·n > 3·tot ⟺ rev > 1.5·avg).
    QuerySpec("q153_part_share",
      (s, dir) => {
        val perPart = Tables.lineitem(s, dir)
          .select(col("l_partkey"),
            Exact.cents(col("l_extendedprice") *
              (lit(1.0) - col("l_discount"))).as("cents"))
          .groupBy("l_partkey")
          .agg(sum("cents").as("rev_cents"))
          // reused by the total AND the filter
          .transform(graft.util.Ckpt.store(_))
        val tot = perPart.agg(sum("rev_cents").as("tot"),
          count(lit(1)).as("n"))
        perPart.crossJoin(broadcast(tot))
          .filter(col("rev_cents") * 2 * col("n") > col("tot") * 3)
          .select("l_partkey", "rev_cents")
          .orderBy(col("rev_cents").desc, col("l_partkey"))
      },
      Some(s"""
        WITH pp AS (
          SELECT l_partkey,
                 sum(${Exact.centsSql(
                   "l_extendedprice * (1 - l_discount)")}) AS rev_cents
          FROM lineitem GROUP BY 1),
        t AS (SELECT sum(rev_cents) AS tot, count(*) AS n FROM pp)
        SELECT l_partkey, CAST(rev_cents AS BIGINT) AS rev_cents
        FROM pp, t
        WHERE rev_cents * 2 * n > tot * 3
        ORDER BY rev_cents DESC, l_partkey""")),

    // ------------------------------------------------------------------
    // Lag-k autocorrelation of the daily event-count series (does
    // yesterday predict today?) — lags 1..3 through ONE equi-join of
    // the tick series against itself (lag set exploded alongside, no
    // global-ordering window) and one exact-integer-moment agg per lag
    // (TimeSeries.autocorr).
    QuerySpec("q154_autocorr",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(expr("ts div 86400000000000").as("day"))
          .agg(count(lit(1)).as("x"))
        graft.operators.TimeSeries.autocorr(daily, "day", "x", Seq(1, 2, 3))
          .orderBy("lag")
      },
      Some("""
        WITH d AS (
          SELECT epoch_us(ts) // 86400000000 AS day,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1),
        p AS (
          SELECT l.lag, a.x AS xi, b.x AS xj
          FROM (VALUES (1), (2), (3)) l(lag)
          JOIN d a ON true
          JOIN d b ON b.day = a.day + l.lag),
        m AS (
          SELECT lag, count(*) AS n, sum(xi) AS sx, sum(xj) AS sy,
                 sum(xi*xi) AS sxx, sum(xj*xj) AS syy, sum(xi*xj) AS sxy
          FROM p GROUP BY 1)
        SELECT lag, CAST(n AS BIGINT) AS n_pairs,
               CAST(floor(
                 CAST(n*sxy - sx*sy AS DOUBLE) /
                 (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
                  sqrt(CAST(n*syy - sy*sy AS DOUBLE))) * 1000000 + 0.5)
                 AS BIGINT) AS acf_micros
        FROM m ORDER BY lag""")),

    // ------------------------------------------------------------------
    // CUSUM change-point scan over daily revenue from events.value —
    // the three days where the centered cumulative sum peaks, i.e. the
    // most likely level-shift boundaries. ZERO floats end to end: the
    // n-rescaled statistic n·P_t − t·T preserves the arg-max exactly
    // (TimeSeries.cusum scaladoc).
    QuerySpec("q155_cusum_changepoint",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(expr("ts div 86400000000000").as("day"))
          .agg(sum(Exact.cents(col("value"))).as("x"))
        graft.operators.TimeSeries.cusum(daily, "day", "x")
          .orderBy(abs(col("cusum_scaled")).desc, col("day"))
          .limit(3)
      },
      Some(s"""
        WITH d AS (
          SELECT epoch_us(ts) // 86400000000 AS day,
                 CAST(sum(${Exact.centsSql("value")}) AS BIGINT) AS x
          FROM events GROUP BY 1),
        t AS (SELECT CAST(sum(x) AS HUGEINT) AS tot, count(*) AS n FROM d),
        c AS (
          SELECT day, x, sum(x) OVER (ORDER BY day) AS p,
                 row_number() OVER (ORDER BY day) AS r
          FROM d)
        SELECT day, x, CAST(t.n*c.p - c.r*t.tot AS BIGINT) AS cusum_scaled
        FROM c, t
        ORDER BY abs(CAST(t.n*c.p - c.r*t.tot AS BIGINT)) DESC, day
        LIMIT 3""")),

    // ------------------------------------------------------------------
    // Mann–Kendall trend test on the daily event-count series — the
    // distribution-free drift monitor: S over all i<j sign pairs of
    // the CALENDAR-BOUNDED tick rollup (raw events never pair), with
    // the tie-corrected variance and continuity-corrected Z
    // (TimeSeries.mannKendall scaladoc).
    QuerySpec("q156_mann_kendall",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(expr("ts div 86400000000000").as("day"))
          .agg(count(lit(1)).as("x"))
        graft.operators.TimeSeries.mannKendall(daily, "day", "x")
      },
      Some("""
        WITH d AS (
          SELECT epoch_us(ts) // 86400000000 AS day,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1),
        s AS (
          SELECT CAST(coalesce(sum(CASE WHEN b.x > a.x THEN 1
                                        WHEN b.x < a.x THEN -1
                                        ELSE 0 END), 0) AS BIGINT) AS s_stat
          FROM d a JOIN d b ON a.day < b.day),
        tie AS (
          SELECT CAST(coalesce(sum(t*(t-1)*(2*t+5)), 0) AS BIGINT)
                   AS tie_num,
                 CAST(sum(t) AS BIGINT) AS n_ticks
          FROM (SELECT count(*) AS t FROM d GROUP BY x)),
        v AS (
          SELECT n_ticks, s_stat,
                 CAST(n_ticks*(n_ticks-1)*(2*n_ticks+5) - tie_num
                   AS DOUBLE) / 18 AS var_s
          FROM s, tie)
        SELECT n_ticks, s_stat,
               CASE WHEN var_s > 0 THEN
                 CAST(floor(
                   (CASE WHEN s_stat > 0 THEN s_stat - 1
                         WHEN s_stat < 0 THEN s_stat + 1
                         ELSE 0 END) / sqrt(var_s) * 1000000 + 0.5)
                   AS BIGINT)
               ELSE 0 END AS z_micros
        FROM v""")),

    // ------------------------------------------------------------------
    // Custom DataSource V2 end-to-end: the graft.sources.Synthetic
    // connector planned like a real table — the id range predicate is
    // PUSHED into the source and prunes input partitions at planning
    // time (SyntheticSourceSpec pins both prunings); the oracle
    // re-derives the same Lehmer closed form from DuckDB's range().
    // (fn ignores the sf dir by design — the source IS the data.)
    QuerySpec("q157_synthetic_source",
      (s, _) => s.read.format("graft.sources.Synthetic")
        .option("rows", "100000").option("slices", "32").load()
        .filter(col("id") >= 25000L && col("id") < 75000L)
        .groupBy("cat")
        .agg(count(lit(1)).as("n"), sum("val").as("val_sum"))
        .orderBy("cat"),
      Some(s"""
        WITH g AS (
          SELECT range AS id, ${graft.sources.Synthetic.valueSql("range")}
                   AS val
          FROM range(25000, 75000))
        SELECT 'c' || (val % 8) AS cat, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(val) AS BIGINT) AS val_sum
        FROM g GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Replica reconciliation: per-returnflag order-independent content
    // checksums of lineitem (Profile.fingerprint) — each side runs one
    // commutative bit_xor agg over 60-bit md5 row hashes and compares
    // |groups| rows, never the data. The oracle IS "the other replica":
    // DuckDB fingerprinting its copy with the same canonical rendering
    // (bit_xor keeps the checksum BIGINT on both engines — a decimal
    // sum rides DuckDB's HUGEINT and hash-mismatches at the driver).
    QuerySpec("q159_fingerprint_reconcile",
      (s, dir) => graft.operators.Profile.fingerprint(
          Tables.lineitem(s, dir),
          groupCols = Seq("l_returnflag"),
          contentCols = Seq(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_quantity").cast("long")))
        .orderBy("l_returnflag"),
      Some("""
        WITH h AS (
          SELECT l_returnflag,
                 CAST(('0x' || substring(md5(
                     l_orderkey || '|' || l_linenumber || '|' ||
                     l_partkey || '|' || CAST(l_quantity AS BIGINT)), 1, 15))
                   AS BIGINT) AS rh
          FROM lineitem)
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
               bit_xor(rh) AS checksum,
               CAST(sum(rh) % 1000000007 AS BIGINT) AS checksum_modsum
        FROM h
        GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Z-order (Morton) clustering key over (user_id, event-day) — the
    // multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
    // ZORDER; Morton 1966). Pure builtin bit-arithmetic composition
    // (mask-spread fold), whole-stage-codegen'd, and replayed verbatim
    // by the oracle's shift/mask CTE chain. The layout win itself
    // (row-group pruning on BOTH dims after a Z-sorted write) is
    // measured in LayoutSpec, not here — a SQL oracle can only check
    // the key arithmetic.
    QuerySpec("q194_zorder_key",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        ev.select(col("event_id"),
            graft.store.Layout.zValue2(col("user_id"),
              expr("ts div 86400000000000")).as("z"))
          .orderBy("z", "event_id")
          .limit(100)
      },
      Some("""
        WITH b AS (SELECT event_id,
            user_id & 2147483647 AS x,
            (epoch_us(ts) // 86400000000) & 2147483647 AS y
          FROM events),
        s1 AS (SELECT event_id,
            (x | (x << 16)) & 281470681808895 AS x,
            (y | (y << 16)) & 281470681808895 AS y FROM b),
        s2 AS (SELECT event_id,
            (x | (x << 8)) & 71777214294589695 AS x,
            (y | (y << 8)) & 71777214294589695 AS y FROM s1),
        s3 AS (SELECT event_id,
            (x | (x << 4)) & 1085102592571150095 AS x,
            (y | (y << 4)) & 1085102592571150095 AS y FROM s2),
        s4 AS (SELECT event_id,
            (x | (x << 2)) & 3689348814741910323 AS x,
            (y | (y << 2)) & 3689348814741910323 AS y FROM s3),
        s5 AS (SELECT event_id,
            (x | (x << 1)) & 6148914691236517205 AS x,
            (y | (y << 1)) & 6148914691236517205 AS y FROM s4)
        SELECT event_id, (x | (y << 1)) AS z FROM s5
        ORDER BY z, event_id LIMIT 100""")),

    // ------------------------------------------------------------------
    // Pipeline attrition report: the cumulative survivor count through
    // the canonical corpus-filter cascade (language → length → token
    // floor → exact-dedup keep-first) — the first table anyone asks for
    // about a training-data pipeline ("where did my documents go?").
    // ONE scan computes every flag; the dedup flag is the only
    // exchange (content-hash keep-min window); the cascade itself is a
    // single conditional-sum aggregate, then a 5-row unpivot.
    QuerySpec("q197_filter_funnel",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val w = Window
          .partitionBy(graft.dedup.Dedup.portableHash(col("text")))
          .orderBy("doc_id")
        val flagged = docs.select(
          (col("lang") === "en").as("f1"),
          col("n_chars").between(100, 500).as("f2"),
          (size(graft.text.Analyzer.tokenize(col("text"))) >= 30).as("f3"),
          (row_number().over(w) === 1).as("f4"))
        flagged.agg(
            count(lit(1)).as("s0_all"),
            sum(when(col("f1"), 1L).otherwise(0L)).as("s1_lang"),
            sum(when(col("f1") && col("f2"), 1L).otherwise(0L))
              .as("s2_len"),
            sum(when(col("f1") && col("f2") && col("f3"), 1L)
              .otherwise(0L)).as("s3_toks"),
            sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L)
              .otherwise(0L)).as("s4_dedup"))
          .select(expr(
            "stack(5, 's0_all', s0_all, 's1_lang', s1_lang, " +
              "'s2_len', s2_len, 's3_toks', s3_toks, " +
              "'s4_dedup', s4_dedup) AS (stage, surviving)"))
          .orderBy("stage")
      },
      Some(s"""
        WITH f AS (SELECT
            lang = 'en' AS f1,
            n_chars BETWEEN 100 AND 500 AS f2,
            len(list_filter(string_split_regex(lower(trim(text)),
              '\\s+'), x -> x <> '')) >= 30 AS f3,
            row_number() OVER (
              PARTITION BY md5(text) ORDER BY doc_id) = 1 AS f4
          FROM documents),
        agg AS (SELECT
            CAST(count(*) AS BIGINT) AS s0_all,
            CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1_lang,
            CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT)
              AS s2_len,
            CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END)
              AS BIGINT) AS s3_toks,
            CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END)
              AS BIGINT) AS s4_dedup
          FROM f)
        SELECT stage, surviving FROM (
          SELECT 's0_all' AS stage, s0_all AS surviving FROM agg
          UNION ALL SELECT 's1_lang', s1_lang FROM agg
          UNION ALL SELECT 's2_len', s2_len FROM agg
          UNION ALL SELECT 's3_toks', s3_toks FROM agg
          UNION ALL SELECT 's4_dedup', s4_dedup FROM agg)
        ORDER BY stage""")),

    // ------------------------------------------------------------------
    // Funnel time-to-convert: exact p50/p90/p99 of the signup→purchase
    // delay — q128's conversion funnel answered in TIME, the metric the
    // growth dashboard actually plots. ONE user_id exchange carries
    // both the running-min-signup window and the per-user min-delay agg
    // (RANGE frame so equal-timestamp ties are deterministic on both
    // engines); the quantiles then run through q168's no-global-sort
    // histogram localization. All integer µs.
    QuerySpec("q199_funnel_latency",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts")
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val delays = Tables.events(s, dir)
          .filter(col("event_type").isin("signup", "purchase"))
          .select(col("user_id"), col("ts"), col("event_type"))
          .withColumn("ts0",
            min(when(col("event_type") === "signup", col("ts"))).over(w))
          .filter(col("event_type") === "purchase" && col("ts0").isNotNull)
          .groupBy("user_id")
          .agg(min(expr("(ts - ts0) div 1000")).as("delay_us"))
        graft.operators.Quantiles.exact(delays, col("delay_us"),
            Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
          .orderBy("ql")
      },
      Some("""
        WITH f AS (SELECT user_id, epoch_us(ts) AS us, event_type
          FROM events WHERE event_type IN ('signup', 'purchase')),
        g AS (SELECT user_id, us, event_type,
            min(CASE WHEN event_type = 'signup' THEN us END)
              OVER (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS ts0
          FROM f),
        d AS (SELECT user_id, min(us - ts0) AS val
          FROM g WHERE event_type = 'purchase' AND ts0 IS NOT NULL
          GROUP BY user_id),
        n AS (SELECT count(*) AS n FROM d),
        r AS (SELECT val, row_number() OVER (ORDER BY val) AS rn FROM d),
        q(ql, p) AS (VALUES ('p50', 0.5), ('p90', 0.9), ('p99', 0.99)),
        k AS (SELECT ql, CAST(ceil(p * n) AS BIGINT) AS rank FROM q, n)
        SELECT k.ql, k.rank, r.val AS value
        FROM k JOIN r ON r.rn = k.rank
        ORDER BY k.ql""")),

    // ------------------------------------------------------------------
    // Snapshot diff: row-level added/removed/changed/unchanged
    // classification between two corpus versions (synthetically derived
    // from documents: v2 drops every 11th doc, adds a marker to every
    // 5th, and v1 lacks every 7th) — the companion to q159's
    // group-level fingerprint reconcile: q159 says WHICH partitions
    // drifted, this says what happened row by row. One full-outer join
    // on the key, content compared by portable hash, then a 4-row
    // conditional-count rollup.
    QuerySpec("q200_snapshot_diff",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val v1 = docs.filter(col("doc_id") % 7 =!= 3)
          .select(col("doc_id"),
            graft.dedup.Dedup.portableHash(col("text")).as("h1"))
        val v2 = docs.filter(col("doc_id") % 11 =!= 5)
          .select(col("doc_id"),
            graft.dedup.Dedup.portableHash(
              when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
                .otherwise(col("text"))).as("h2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .select(when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") === col("h2"), "unchanged")
            .otherwise("changed").as("status"))
          .groupBy("status").agg(count(lit(1)).as("n_docs"))
          .orderBy("status")
      },
      Some("""
        WITH v1 AS (SELECT doc_id,
            CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h1
          FROM documents WHERE doc_id % 7 <> 3),
        v2 AS (SELECT doc_id,
            CAST(('0x' || substring(md5(
              CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
            ), 1, 15)) AS BIGINT) AS h2
          FROM documents WHERE doc_id % 11 <> 5),
        j AS (SELECT
            CASE WHEN h1 IS NULL THEN 'added'
                 WHEN h2 IS NULL THEN 'removed'
                 WHEN h1 = h2 THEN 'unchanged'
                 ELSE 'changed' END AS status
          FROM v1 FULL OUTER JOIN v2 USING (doc_id))
        SELECT status, CAST(count(*) AS BIGINT) AS n_docs
        FROM j GROUP BY status ORDER BY status""")),

    // ------------------------------------------------------------------
    // Temperature-flattened mixing allocation (T5 §3.4.3 / multilingual
    // sampling): budget split ∝ n_lang^0.5 with EXACT largest-remainder
    // apportionment — one snapped pow per stratum, then pure integer
    // division + remainder rank; Σ alloc = budget exactly. Rare
    // languages get upweighted (alloc may exceed n: epoch repeats).
    QuerySpec("q230_temperature_mix",
      (s, dir) => {
        Sampling.temperatureAllocation(Tables.documents(s, dir),
            col("lang"), budget = 1000L, tau = 0.5)
          .withColumnRenamed("stratum", "lang")
          .orderBy("lang")
      },
      Some(s"""
        WITH cnt AS (
          SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY 1),
        x AS (
          SELECT stratum, n,
                 ${graft.util.Exact.microsSql(
                   "pow(CAST(n AS DOUBLE), 0.5)")} AS x
          FROM cnt),
        t AS (SELECT CAST(sum(x) AS BIGINT) AS xt FROM x),
        b AS (
          SELECT stratum, n,
                 CAST((1000 * x) // xt AS BIGINT) AS base,
                 CAST((1000 * x) % xt AS BIGINT) AS rem
          FROM x CROSS JOIN t),
        l AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS lft FROM b),
        r AS (
          SELECT stratum, n, base, rem,
                 row_number() OVER (ORDER BY rem DESC, stratum) AS rk
          FROM b)
        SELECT stratum AS lang, n,
               CAST(base + CASE WHEN rk <= l.lft THEN 1 ELSE 0 END
                 AS BIGINT) AS alloc
        FROM r CROSS JOIN l ORDER BY lang"""))
  )
}
