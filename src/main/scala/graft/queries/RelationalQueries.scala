package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Exact

/** Remaining classic TPC-H query shapes (Q7/Q8/Q9/Q12/Q14/Q18/Q19/Q20),
  * adapted to the driver testdata's columns (no partsupp table, no
  * l_shipmode / l_commitdate / p_container — substitutes noted per
  * query). Together with q01 (Q1), q46 (Q3), q150-q153 (Q2/Q21/Q22/Q11)
  * and q145 (Q17) this completes the TPC-H join/agg shape inventory.
  *
  * The recurring scale pattern: every dimension that survives its filter
  * is explicitly `broadcast()` so the single lineitem scan is never
  * shuffled except where a genuine fact-to-fact key exchange is required
  * (li⋈orders on orderkey in Q9/Q12 — at 100 TB both sides are big and
  * the shuffle IS the correct plan; everything else rides broadcasts).
  */
object RelationalQueries {

  // events.ts spans 2024-01-01 .. 2024-01-31; mid-range cutoff
  // (2024-01-16T00:00:00Z) in epoch MICROS — the µs exchange precision
  // every events timestamp uses (see SparkEntry's TsCutoff notes).
  private val TsMidUs = 1705363200000000L

  def specs: Seq[QuerySpec] = Seq(

    // ------------------------------------------------------------------
    // TPC-H Q7 shape (volume shipping): revenue flowing between two
    // nations, split by (supplier nation, customer nation, ship year)
    // for 1996-1997. The filter cascade makes everything broadcast-able
    // BEFORE it touches lineitem: customers of the two nations (~8% of
    // customer) → their orders (~8% of orders) ride in as a broadcast
    // hash join on orderkey, suppliers likewise on suppkey — the
    // lineitem scan is never exchanged. At 100 TB the pruned orders
    // side may exceed broadcast size; AQE then falls back to a shuffle
    // join on the SAME declarative plan — nothing to rewrite.
    QuerySpec("q160_volume_shipping",
      (s, dir) => {
        val nat = Tables.nation(s, dir)
          .filter(col("n_name").isin("NATION_1", "NATION_2"))
        val cust = Tables.customer(s, dir)
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation"))
        val ords = Tables.orders(s, dir)
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("cust_nation"))
        val supp = Tables.supplier(s, dir)
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(broadcast(ords), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(Exact.cents(col("l_extendedprice") *
            (lit(1d) - col("l_discount")))).as("revenue_cents"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(sum(${Exact.centsSql("l_extendedprice * (1 - l_discount)")})
                 AS BIGINT) AS revenue_cents
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_1', 'NATION_2')
          AND n2.n_name IN ('NATION_1', 'NATION_2')
          AND n1.n_name <> n2.n_name
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ------------------------------------------------------------------
    // TPC-H Q8 shape (national market share): of all PROMO-part revenue
    // sold to ASIA-region customers in 1996-1997, what fraction came
    // from NATION_7 suppliers, per order year? The share division runs
    // on exact integer cents (conditional sum / total sum), snapped to
    // micros only at the end — cross-engine-exact. Supplier nationality
    // is a broadcast riding the groupBy; the li⋈orders equi-join is the
    // one genuine exchange (both sides fact-sized at 100 TB).
    QuerySpec("q161_market_share",
      (s, dir) => {
        val asiaNations = Tables.nation(s, dir)
          .join(broadcast(Tables.region(s, dir)
              .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
        val cust = Tables.customer(s, dir)
          .join(broadcast(asiaNations),
            col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey")
        val ords = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
        val promoParts = Tables.part(s, dir)
          .filter(col("p_type") === "PROMO").select("p_partkey")
        val supp = Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        Tables.lineitem(s, dir)
          .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(ords), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .select(col("o_year"),
            Exact.cents(col("l_extendedprice") * (lit(1d) - col("l_discount")))
              .as("rev"),
            col("supp_nation"))
          .groupBy("o_year")
          .agg(sum(when(col("supp_nation") === "NATION_7", col("rev"))
              .otherwise(0L)).as("nation_cents"),
            sum(col("rev")).as("total_cents"))
          .select(col("o_year"), col("nation_cents"), col("total_cents"),
            Exact.micros(col("nation_cents").cast("double") /
              col("total_cents").cast("double")).as("share_micros"))
          .orderBy("o_year")
      },
      Some(s"""
        WITH rev AS (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                 ${Exact.centsSql("l_extendedprice * (1 - l_discount)")} AS rev,
                 n1.n_name AS supp_nation
          FROM lineitem
          JOIN part     ON l_partkey = p_partkey
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          JOIN region   ON n2.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          WHERE p_type = 'PROMO' AND r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate <  TIMESTAMP '1998-01-01'),
        agg AS (
          SELECT o_year,
                 CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev
                     ELSE 0 END) AS BIGINT) AS nation_cents,
                 CAST(sum(rev) AS BIGINT) AS total_cents
          FROM rev GROUP BY 1)
        SELECT o_year, nation_cents, total_cents,
               ${Exact.microsSql(
                 "CAST(nation_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)")}
                 AS share_micros
        FROM agg ORDER BY o_year""")),

    // ------------------------------------------------------------------
    // TPC-H Q9 shape (product-type profit): the testdata has no
    // partsupp.ps_supplycost, so unit cost is modeled as 10% of
    // p_retailprice (a fixed, engine-portable surrogate). Profit per
    // (supplier nation, order year) over 'widget' parts. Per-row profit
    // is snapped to cents BEFORE the sum (float products are IEEE-exact
    // per row; only the sum order differs between engines). li⋈orders
    // is the one genuine fact-fact exchange; part/supplier/nation are
    // pruned broadcasts.
    QuerySpec("q162_product_profit",
      (s, dir) => {
        val parts = Tables.part(s, dir)
          .filter(col("p_name").contains("widget"))
          .select("p_partkey", "p_retailprice")
        val supp = Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("nation"))
        val ords = Tables.orders(s, dir)
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
        Tables.lineitem(s, dir)
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(ords, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("nation"), col("o_year"))
          .agg(sum(Exact.cents(
            col("l_extendedprice") * (lit(1d) - col("l_discount")) -
              col("p_retailprice") * lit(0.1d) * col("l_quantity")))
            .as("profit_cents"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some(s"""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(sum(${Exact.centsSql(
                 "l_extendedprice * (1 - l_discount) " +
                 "- p_retailprice * 0.1 * l_quantity")}) AS BIGINT)
                 AS profit_cents
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2 ORDER BY 1, 2 DESC""")),

    // ------------------------------------------------------------------
    // TPC-H Q12 shape (late shipments by priority): the testdata has no
    // l_shipmode/l_commitdate/l_receiptdate, so the lateness predicate
    // is l_shipdate > o_orderdate + 90 days and the grouping key is
    // o_orderpriority. One orderkey equi-join (fact-fact: the correct
    // shuffle), one conditional hash-agg; the late-share is an exact
    // integer ratio snapped to micros.
    QuerySpec("q163_late_by_priority",
      (s, dir) => {
        val ords = Tables.orders(s, dir)
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_shipdate")
          .join(ords, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_lines"),
            sum(when(col("l_shipdate") >
                col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
              .otherwise(0L)).as("n_late"))
          .select(col("o_orderpriority"), col("n_lines"), col("n_late"),
            Exact.micros(col("n_late").cast("double") /
              col("n_lines").cast("double")).as("late_share_micros"))
          .orderBy("o_orderpriority")
      },
      Some(s"""
        WITH agg AS (
          SELECT o_orderpriority, count(*) AS n_lines,
                 CAST(sum(CASE WHEN l_shipdate > o_orderdate
                       + INTERVAL 90 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1)
        SELECT o_orderpriority, n_lines, n_late,
               ${Exact.microsSql(
                 "CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE)")}
                 AS late_share_micros
        FROM agg ORDER BY o_orderpriority""")),

    // ------------------------------------------------------------------
    // TPC-H Q14 shape (promo revenue share) per 1996 ship month: what
    // fraction of each month's revenue came from PROMO-type parts? The
    // part dimension joins as a 20k-row broadcast carrying only the
    // promo flag; the date filter prunes the scan via parquet min/max
    // row-group stats before any join runs.
    QuerySpec("q164_promo_share",
      (s, dir) => {
        val parts = Tables.part(s, dir)
          .select(col("p_partkey"), (col("p_type") === "PROMO").as("promo"))
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .select(month(col("l_shipdate")).as("ship_month"),
            Exact.cents(col("l_extendedprice") * (lit(1d) - col("l_discount")))
              .as("rev"),
            col("promo"))
          .groupBy("ship_month")
          .agg(sum(when(col("promo"), col("rev")).otherwise(0L))
              .as("promo_cents"),
            sum(col("rev")).as("total_cents"))
          .select(col("ship_month"), col("promo_cents"), col("total_cents"),
            Exact.micros(col("promo_cents").cast("double") /
              col("total_cents").cast("double")).as("promo_share_micros"))
          .orderBy("ship_month")
      },
      Some(s"""
        WITH agg AS (
          SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
                 CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN ${Exact.centsSql(
                       "l_extendedprice * (1 - l_discount)")}
                     ELSE 0 END) AS BIGINT) AS promo_cents,
                 CAST(sum(${Exact.centsSql(
                   "l_extendedprice * (1 - l_discount)")}) AS BIGINT)
                   AS total_cents
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1997-01-01'
          GROUP BY 1)
        SELECT ship_month, promo_cents, total_cents,
               ${Exact.microsSql(
                 "CAST(promo_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)")}
                 AS promo_share_micros
        FROM agg ORDER BY ship_month""")),

    // ------------------------------------------------------------------
    // TPC-H Q18 shape (large-volume orders): orders whose total line
    // quantity exceeds 250 units, with customer attribution. The
    // HAVING-filtered aggregate is tiny by construction (the qty
    // distribution's extreme tail), so it drives the subsequent joins
    // as the BUILD side: orders and customer join against a broadcast
    // of the survivors — the 100 TB plan reads lineitem once, shuffles
    // only orderkey-sized aggregates, and never exchanges orders.
    QuerySpec("q165_large_orders",
      (s, dir) => {
        val big = Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
          .filter(col("sum_qty") > 250L)
        val ords = Tables.orders(s, dir)
          .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        ords.join(broadcast(Tables.customer(s, dir)),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))")
              .as("o_date_us"),
            Exact.cents(col("o_totalprice")).as("total_cents"),
            col("sum_qty"))
          .orderBy(col("sum_qty").desc, col("o_orderkey"))
      },
      Some(s"""
        WITH big AS (
          SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
          FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
        SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate)
                 AS o_date_us,
               ${Exact.centsSql("o_totalprice")} AS total_cents, sum_qty
        FROM big
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY sum_qty DESC, o_orderkey""")),

    // ------------------------------------------------------------------
    // TPC-H Q19 shape (disjunctive brand/size/quantity predicates): a
    // three-arm OR over (p_brand, p_size range, l_quantity range). The
    // part-side conjuncts prune the broadcast BUILD side to the three
    // brands before the join; the residual disjunction evaluates inside
    // the join stage — one lineitem scan, no shuffle at all.
    QuerySpec("q166_disjunctive_rev",
      (s, dir) => {
        val parts = Tables.part(s, dir)
          .filter(col("p_brand").isin("Brand#11", "Brand#15", "Brand#19"))
          .select("p_partkey", "p_brand", "p_size")
        Tables.lineitem(s, dir)
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 15)) ||
            (col("p_brand") === "Brand#15" && col("p_size").between(1, 30) &&
              col("l_quantity").between(10, 25)) ||
            (col("p_brand") === "Brand#19" && col("p_size").between(1, 45) &&
              col("l_quantity").between(20, 35)))
          .agg(
            sum(Exact.cents(col("l_extendedprice") *
              (lit(1d) - col("l_discount")))).as("revenue_cents"),
            count(lit(1)).as("n_lines"))
      },
      Some(s"""
        SELECT CAST(sum(${Exact.centsSql(
                 "l_extendedprice * (1 - l_discount)")}) AS BIGINT)
                 AS revenue_cents,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 15)
           OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 30
               AND l_quantity BETWEEN 10 AND 25)
           OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 45
               AND l_quantity BETWEEN 20 AND 35)""")),

    // ------------------------------------------------------------------
    // TPC-H Q20 shape (dominant promo suppliers): suppliers who shipped
    // more than 30% of some PROMO part's total 1996 volume (the
    // partsupp.ps_availqty half-of-demand test re-expressed on shipped
    // volume, which the testdata does have). Two aggregations share the
    // same (partkey) exchange under AQE; the qualifying (part, supp)
    // set is distinct-ed down to suppliers and joined to names as a
    // broadcast semi-join.
    QuerySpec("q167_dominant_promo_supp",
      (s, dir) => {
        val promoParts = Tables.part(s, dir)
          .filter(col("p_type") === "PROMO").select("p_partkey")
        val shipped = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity")).cast("long").as("qty"))
        val totals = shipped.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("qty")).as("part_qty"))
        val dominant = shipped
          .join(totals, col("l_partkey") === col("pk"))
          .filter(col("qty") * 10L > col("part_qty") * 3L)
          .select("l_suppkey").distinct()
        Tables.supplier(s, dir)
          .join(broadcast(dominant), col("s_suppkey") === col("l_suppkey"),
            "left_semi")
          .select("s_suppkey", "s_name")
          .orderBy("s_suppkey")
      },
      Some("""
        WITH shipped AS (
          SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'PROMO'
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1997-01-01'
          GROUP BY 1, 2),
        totals AS (
          SELECT l_partkey, sum(qty) AS part_qty FROM shipped GROUP BY 1),
        dominant AS (
          SELECT DISTINCT l_suppkey
          FROM shipped JOIN totals USING (l_partkey)
          WHERE qty * 10 > part_qty * 3)
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
        ORDER BY s_suppkey""")),

    // ------------------------------------------------------------------
    // Built-in session windows (batch mode): the same 30-minute-gap
    // sessionization as q36, but through Spark's native
    // `session_window` aggregation instead of the lag+running-sum
    // window cascade — one hash-agg with in-partition session merge,
    // no analytic window at all (the two shapes coexist because the
    // builtin generalizes to Structured Streaming state merging).
    // NOTE the builtin's boundary: a gap EQUAL to 30 min starts a NEW
    // session (merge condition is next < last + gap, strict), which is
    // the opposite of q36's `> gap` split rule — the oracle encodes
    // `>=` accordingly, and `end` is last event + gap by definition.
    QuerySpec("q174_session_window",
      (s, dir) => {
        Tables.events(s, dir)
          .select(col("user_id"),
            timestamp_micros(expr("ts div 1000")).as("ts"))
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n_events"))
          .orderBy("user_id", "start_us")
      },
      Some(s"""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        flagged AS (
          SELECT user_id, ts_us,
                 CASE WHEN lag(ts_us) OVER w IS NULL
                        OR ts_us - lag(ts_us) OVER w >= ${30L * 60 * 1000000}
                      THEN 1 ELSE 0 END AS new_sess
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        sess AS (
          SELECT user_id, ts_us,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_no
          FROM flagged)
        SELECT user_id, CAST(min(ts_us) AS BIGINT) AS start_us,
               CAST(max(ts_us) + ${30L * 60 * 1000000} AS BIGINT) AS end_us,
               count(*) AS n_events
        FROM sess GROUP BY user_id, sess_no
        ORDER BY user_id, start_us""")),

    // ------------------------------------------------------------------
    // GROUPING SETS: three explicit granularities — (flag, status),
    // (flag), () — in ONE pass with grouping_id disambiguation (rollup
    // q34 and CUBE q97 are the fixed-lattice cousins; explicit sets are
    // what reporting pipelines actually ask for). Spark expands the
    // sets inside a single Expand + hash-agg — the scan and shuffle are
    // paid once, not per granularity.
    QuerySpec("q175_grouping_sets",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupingSets(
            Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_returnflag")), Seq()),
            col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().as("gid"),
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            count(lit(1)).as("cnt"))
          .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
            col("sum_qty"), col("cnt"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               count(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST""")),

    // ------------------------------------------------------------------
    // Relational set algebra: customers who bought BOTH Brand#11 and
    // Brand#15 but NEVER Brand#19 — INTERSECT then EXCEPT over three
    // filtered key sets derived from one lineitem⋈orders join. Spark
    // plans set ops as aggregates + joins; the three branches reuse the
    // same shuffle exchange under AQE.
    QuerySpec("q176_set_ops",
      (s, dir) => {
        val parts = Tables.part(s, dir)
          .filter(col("p_brand").isin("Brand#11", "Brand#15", "Brand#19"))
          .select("p_partkey", "p_brand")
        val bought = Tables.lineitem(s, dir)
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select("o_custkey", "p_brand")
        def buyers(b: String) =
          bought.filter(col("p_brand") === b).select("o_custkey")
        buyers("Brand#11").intersect(buyers("Brand#15"))
          .except(buyers("Brand#19"))
          .orderBy("o_custkey")
      },
      Some("""
        WITH bought AS MATERIALIZED (
          SELECT o_custkey, p_brand
          FROM lineitem
          JOIN part   ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          WHERE p_brand IN ('Brand#11', 'Brand#15', 'Brand#19'))
        SELECT o_custkey FROM (
          SELECT o_custkey FROM bought WHERE p_brand = 'Brand#11'
          INTERSECT
          SELECT o_custkey FROM bought WHERE p_brand = 'Brand#15'
          EXCEPT
          SELECT o_custkey FROM bought WHERE p_brand = 'Brand#19')
        ORDER BY o_custkey""")),

    // ------------------------------------------------------------------
    // TPC-H Q4 shape (order priority checking): orders per priority in a
    // quarter that had at least one LATE-shipped line (no l_commitdate /
    // l_receiptdate in the testdata — "late" = shipped >30 days after
    // the order date). The EXISTS is a LEFT SEMI join: lineitem is
    // touched once, never duplicated into the aggregate, and the only
    // exchange is the genuine fact-to-fact orderkey shuffle (both sides
    // fact-sized at 100 TB; the 30-day predicate rides the join as a
    // post-condition, not a separate pass).
    QuerySpec("q180_priority_late",
      (s, dir) => {
        val ords = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        ords.join(Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate"),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // TPC-H Q5 shape (local supplier volume): 1996 revenue per ASIA
    // nation counting only lines where the CUSTOMER's nation equals the
    // SUPPLIER's nation. The cross-dimension equality is enforced as a
    // post-broadcast filter: customer-nation rides in through orders,
    // supplier-nation through supplier, both as broadcasts keyed off the
    // single lineitem scan — no lineitem exchange before the final
    // nation-keyed aggregation.
    QuerySpec("q181_local_supplier_volume",
      (s, dir) => {
        val asiaNat = Tables.nation(s, dir)
          .join(broadcast(Tables.region(s, dir)
              .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val cust = Tables.customer(s, dir)
          .join(broadcast(asiaNat), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_nationkey").as("cust_nk"))
        val ords = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("cust_nk"))
        val supp = Tables.supplier(s, dir)
          .join(broadcast(asiaNat), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey").as("supp_nk"),
            col("n_name"))
        Tables.lineitem(s, dir)
          .join(broadcast(ords), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .filter(col("cust_nk") === col("supp_nk"))
          .groupBy("n_name")
          .agg(sum(Exact.cents(col("l_extendedprice") *
            (lit(1d) - col("l_discount")))).as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("n_name"))
      },
      Some(s"""
        SELECT n_name,
               CAST(sum(${Exact.centsSql("l_extendedprice * (1 - l_discount)")})
                 AS BIGINT) AS revenue_cents
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1 ORDER BY revenue_cents DESC, n_name""")),

    // ------------------------------------------------------------------
    // TPC-H Q6 shape (forecast revenue change): one scan, zero joins,
    // three range predicates that must ALL reach the parquet reader as
    // pushed filters — at 100 TB this query is row-group pruning or it
    // is nothing. Discount bounds are compared on integer basis points
    // (l_discount is generated on a 0.01 grid; multiplying literals by
    // 100 avoids float-equality edge effects in BOTH engines).
    QuerySpec("q182_revenue_forecast",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount") >= lit(0.05d) && col("l_discount") <= lit(0.07d) &&
            col("l_quantity") < lit(24d))
          .agg(sum(Exact.cents(col("l_extendedprice") * col("l_discount")))
              .as("revenue_cents"),
            count(lit(1)).as("n_lines"))
      },
      Some(s"""
        SELECT CAST(sum(${Exact.centsSql("l_extendedprice * l_discount")})
                 AS BIGINT) AS revenue_cents,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24""")),

    // ------------------------------------------------------------------
    // TPC-H Q10 shape (returned-item reporting): top 20 customers by
    // revenue lost to returns ('R' lines) for orders placed in 1996-Q4.
    // The quarter-filtered orders ride the lineitem scan as a broadcast;
    // customer attributes join AFTER the custkey aggregation (aggregate
    // first, widen later — at 100 TB the post-agg row count is customer-
    // sized, not lineitem-sized). TakeOrderedAndProject caps the sort.
    QuerySpec("q183_returned_customers",
      (s, dir) => {
        val ords = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val lost = Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R")
          .join(broadcast(ords), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey")
          .agg(sum(Exact.cents(col("l_extendedprice") *
            (lit(1d) - col("l_discount")))).as("revenue_cents"))
        lost
          .join(broadcast(Tables.customer(s, dir)
              .join(broadcast(Tables.nation(s, dir)),
                col("c_nationkey") === col("n_nationkey"))
              .select(col("c_custkey"), col("c_name"), col("n_name"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            col("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""
        SELECT c_custkey, c_name, n_name,
               CAST(sum(${Exact.centsSql("l_extendedprice * (1 - l_discount)")})
                 AS BIGINT) AS revenue_cents
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue_cents DESC, c_custkey LIMIT 20""")),

    // ------------------------------------------------------------------
    // TPC-H Q13 shape (customer order-count distribution): how many
    // customers placed exactly k qualifying orders — INCLUDING the
    // zero-order customers that an inner join would silently drop. The
    // join predicate (priority filter) lives IN the outer join's ON
    // clause, not a WHERE (a WHERE would turn the outer join back into
    // an inner one); count(o_orderkey) counts non-null matches only.
    // Two aggregations: custkey-keyed (the real shuffle), then the
    // tiny k-keyed histogram.
    QuerySpec("q184_order_distribution",
      (s, dir) => {
        val perCust = Tables.customer(s, dir).select("c_custkey")
          .join(Tables.orders(s, dir)
              .filter(col("o_orderpriority") =!= "1-URGENT")
              .select("o_orderkey", "o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
        perCust.groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""
        WITH per_cust AS (
          SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer
          LEFT JOIN orders ON c_custkey = o_custkey
            AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM per_cust GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")),

    // ------------------------------------------------------------------
    // TPC-H Q15 shape (top supplier): per-supplier revenue for 1996-Q1,
    // keeping the supplier(s) that hit the maximum. The max is a 1-row
    // scalar aggregate broadcast back over the supplier-sized revenue
    // table (NOT an unpartitioned window — at 100 TB "suppliers" can be
    // millions of rows and a single-partition sort is the wrong plan;
    // a broadcast scalar compare is shuffle-free either way).
    QuerySpec("q185_top_supplier",
      (s, dir) => {
        val rev = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy("l_suppkey")
          .agg(sum(Exact.cents(col("l_extendedprice") *
            (lit(1d) - col("l_discount")))).as("total_cents"))
        rev.crossJoin(broadcast(rev.agg(max("total_cents").as("max_cents"))))
          .filter(col("total_cents") === col("max_cents"))
          .join(broadcast(Tables.supplier(s, dir)
            .select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_cents"))
          .orderBy("s_suppkey")
      },
      Some(s"""
        WITH rev AS MATERIALIZED (
          SELECT l_suppkey,
                 CAST(sum(${Exact.centsSql("l_extendedprice * (1 - l_discount)")})
                   AS BIGINT) AS total_cents
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_cents
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_cents = (SELECT max(total_cents) FROM rev)
        ORDER BY s_suppkey""")),

    // ------------------------------------------------------------------
    // TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    // counts per (brand, type, size) bucket over the observed
    // part-supplier pairs (no partsupp table — the DISTINCT
    // (l_partkey, l_suppkey) projection of lineitem is the same
    // relation, built with one hash-agg). "Complaint" suppliers
    // (negative balance) are removed with a broadcast LEFT ANTI join —
    // the NOT IN of the original, without the null-semantics trap.
    QuerySpec("q186_supplier_part_buckets",
      (s, dir) => {
        val sizes = Seq(1, 5, 9, 13, 17, 21, 25, 29)
        val pairs = Tables.lineitem(s, dir)
          .select("l_partkey", "l_suppkey").distinct()
        val parts = Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#11" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(sizes: _*))
          .select("p_partkey", "p_brand", "p_type", "p_size")
        val bad = Tables.supplier(s, dir)
          .filter(col("s_acctbal") < 0d).select("s_suppkey")
        pairs
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""
        WITH pairs AS (
          SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM pairs
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // ------------------------------------------------------------------
    // Bucketed co-located join: lineitem and orders are FIRST written as
    // bucketBy(16, orderkey) + sortBy tables, then joined on the bucket
    // key — the catalog-backed layout satisfies the join's distribution
    // AND ordering requirements from disk, so the fact⋈fact join plans
    // with ZERO exchanges and zero sorts (asserted in PlanSpec). This is
    // the storage-side strategy for the one join in this schema that can
    // never broadcast at 100 TB; the write cost is paid once and every
    // downstream orderkey-keyed consumer rides the same layout. Result
    // (revenue by priority band of late-1996 orders) oracle-checks
    // against the plain join.
    QuerySpec("q188_bucketed_join",
      (s, dir) => {
        val base = "/tmp/graft_bucketed"
        val li = graft.store.Bucketing.writeBucketed(
          Tables.lineitem(s, dir)
            .select("l_orderkey", "l_extendedprice", "l_discount"),
          "graft_b_lineitem", s"$base/lineitem", "l_orderkey", 16)
        val ord = graft.store.Bucketing.writeBucketed(
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
            .select("o_orderkey", "o_orderpriority"),
          "graft_b_orders", s"$base/orders", "o_orderkey", 16)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum(Exact.cents(col("l_extendedprice") *
            (lit(1d) - col("l_discount")))).as("revenue_cents"),
            count(lit(1)).as("n_lines"))
          .orderBy("o_orderpriority")
      },
      Some(s"""
        SELECT o_orderpriority,
               CAST(sum(${Exact.centsSql("l_extendedprice * (1 - l_discount)")})
                 AS BIGINT) AS revenue_cents,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Incremental ingest into the bucketed layout: the 1996-H2 orders
    // land first, 1997 arrives as an APPEND batch preserving the bucket
    // spec — then the fact⋈fact join over BOTH batches still reads
    // co-located buckets (exchange elision is layout-level; appends
    // only cost the per-bucket Sort until the next compaction rewrite).
    // This is q188's missing half: real tables are fed in cycles, not
    // written once. Oracle = the plain join over the full date range.
    QuerySpec("q203_bucketed_append",
      (s, dir) => {
        val base = "/tmp/graft_bucketed_inc"
        graft.store.Bucketing.drop(s, "graft_bi_orders")
        val ordersOf = (lo: String, hi: String) =>
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
              col("o_orderdate") < lit(hi).cast("timestamp"))
            .select("o_orderkey", "o_orderpriority")
        graft.store.Bucketing.writeBucketed(
          ordersOf("1996-07-01", "1997-01-01"),
          "graft_bi_orders", s"$base/orders", "o_orderkey", 16)
        val ord = graft.store.Bucketing.appendBucketed(
          ordersOf("1997-01-01", "1998-01-01"),
          "graft_bi_orders", "o_orderkey", 16)
        val li = graft.store.Bucketing.writeBucketed(
          Tables.lineitem(s, dir)
            .select("l_orderkey", "l_extendedprice", "l_discount"),
          "graft_bi_lineitem", s"$base/lineitem", "l_orderkey", 16)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum(Exact.cents(col("l_extendedprice") *
            (lit(1d) - col("l_discount")))).as("revenue_cents"),
            count(lit(1)).as("n_lines"))
          .orderBy("o_orderpriority")
      },
      Some(s"""
        SELECT o_orderpriority,
               CAST(sum(${Exact.centsSql("l_extendedprice * (1 - l_discount)")})
                 AS BIGINT) AS revenue_cents,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Compaction closes q203's ingest loop: three append cycles leave
    // every bucket multi-file (downstream joins pay a per-bucket Sort —
    // multi-file buckets interleave key ranges), then Bucketing.compact
    // rewrites the table to one file per bucket at a NEW path
    // (compact-then-swap, crash-safe) and the fact⋈fact join is again
    // exchange-free AND sort-free straight from the layout (PlanSpec
    // asserts both, plus the sort contrast on the uncompacted table).
    // Oracle = the plain join over the full date range.
    QuerySpec("q204_bucketed_compaction",
      (s, dir) => {
        val base = "/tmp/graft_bucketed_cmp"
        graft.store.Bucketing.drop(s, "graft_bc_orders")
        val ordersOf = (lo: String, hi: String) =>
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
              col("o_orderdate") < lit(hi).cast("timestamp"))
            .select("o_orderkey", "o_orderpriority")
        graft.store.Bucketing.writeBucketed(
          ordersOf("1996-07-01", "1997-01-01"),
          "graft_bc_orders", s"$base/orders", "o_orderkey", 16)
        graft.store.Bucketing.appendBucketed(
          ordersOf("1997-01-01", "1997-07-01"),
          "graft_bc_orders", "o_orderkey", 16)
        graft.store.Bucketing.appendBucketed(
          ordersOf("1997-07-01", "1998-01-01"),
          "graft_bc_orders", "o_orderkey", 16)
        val ord = graft.store.Bucketing.compact(s,
          "graft_bc_orders", "graft_bc_orders_c", s"$base/orders_c",
          "o_orderkey", 16)
        val li = graft.store.Bucketing.writeBucketed(
          Tables.lineitem(s, dir)
            .select("l_orderkey", "l_extendedprice", "l_discount"),
          "graft_bc_lineitem", s"$base/lineitem", "l_orderkey", 16)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum(Exact.cents(col("l_extendedprice") *
            (lit(1d) - col("l_discount")))).as("revenue_cents"),
            count(lit(1)).as("n_lines"))
          .orderBy("o_orderpriority")
      },
      Some(s"""
        SELECT o_orderpriority,
               CAST(sum(${Exact.centsSql("l_extendedprice * (1 - l_discount)")})
                 AS BIGINT) AS revenue_cents,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Time travel over the manifest-versioned store: three append
    // commits land orders in consecutive date slices, then the query
    // reads ALL THREE pinned versions side by side — version k after
    // later commits must still be exactly the version-k snapshot
    // (manifests pin immutable file lists; commits only ever add) — and
    // an orphaned half-commit (data files written, no manifest rename)
    // stays invisible to every reader. Oracle replays the cumulative
    // date slices. This is the reproducible-training-corpus posture:
    // "the files model X trained on" is a version number, re-readable
    // verbatim while ingest keeps committing.
    QuerySpec("q212_versioned_time_travel",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_versioned")
        val ordersOf = (lo: String, hi: String) =>
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
              col("o_orderdate") < lit(hi).cast("timestamp"))
            .select(col("o_orderkey"),
              Exact.cents(col("o_totalprice")).as("cents"))
        val vs = Seq(
          graft.store.Versioned.commitAppend(
            ordersOf("1996-01-01", "1996-07-01"), root),
          graft.store.Versioned.commitAppend(
            ordersOf("1996-07-01", "1997-01-01"), root),
          graft.store.Versioned.commitAppend(
            ordersOf("1997-01-01", "1998-01-01"), root))
        // orphaned half-commit: parquet landed, no manifest rename —
        // must be invisible at every version
        ordersOf("1992-01-01", "1999-01-01").limit(100).write.parquet(
          s"$root/data/orphan-half-commit")
        vs.map { v =>
          graft.store.Versioned.read(s, root, v)
            .agg(count(lit(1)).as("n_orders"),
              sum(col("cents")).as("total_cents"))
            .select(lit(v).as("version"), col("n_orders"),
              col("total_cents"))
        }.reduce(_.unionByName(_)).orderBy("version")
      },
      Some(s"""
        SELECT CAST(v.version AS BIGINT) AS version,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS total_cents
        FROM (VALUES (1), (2), (3)) AS v(version)
        JOIN orders ON o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < (CASE v.version
            WHEN 1 THEN TIMESTAMP '1996-07-01'
            WHEN 2 THEN TIMESTAMP '1997-01-01'
            ELSE TIMESTAMP '1998-01-01' END)
        GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Vacuum closes the versioned-store lifecycle: two append commits,
    // then an overwrite-commit (the compaction rewrite — v3's manifest
    // lists only the rewritten files), an orphaned half-commit, and
    // vacuum(keepFrom = 3). The sweep deletes exactly what no retained
    // manifest can reach — v1/v2's originals AND the orphan — and the
    // retained snapshot must read byte-identically before and after
    // (same rollup in both phases), with reclaimed > 0 proving the
    // sweep actually bit. Deletion is set arithmetic over manifests
    // (disk − union(retained files)), never bookkeeping.
    QuerySpec("q213_versioned_vacuum",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_vacuum")
        val ordersOf = (lo: String, hi: String) =>
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
              col("o_orderdate") < lit(hi).cast("timestamp"))
            .select(col("o_orderkey"),
              Exact.cents(col("o_totalprice")).as("cents"))
        graft.store.Versioned.commitAppend(
          ordersOf("1996-01-01", "1996-07-01"), root)
        graft.store.Versioned.commitAppend(
          ordersOf("1996-07-01", "1997-01-01"), root)
        // compaction rewrite: same logical content as v2, one clean
        // file set — v1/v2's physical files become retirable history
        val v3 = graft.store.Versioned.commitOverwrite(
          ordersOf("1996-01-01", "1997-01-01"), root)
        ordersOf("1992-01-01", "1999-01-01").limit(100).write.parquet(
          s"$root/data/orphan-half-commit")
        def rollup(phase: String) =
          graft.store.Versioned.read(s, root, v3)
            .agg(count(lit(1)).as("n_orders"),
              sum(col("cents")).as("total_cents"))
            .select(lit(phase).as("phase"), col("n_orders"),
              col("total_cents"))
        val pre = rollup("1_pre_vacuum")
        val (nDel, bytes) = graft.store.Versioned.vacuum(root, v3)
        pre.unionByName(rollup("2_post_vacuum"))
          .withColumn("reclaimed", lit(nDel > 0 && bytes > 0))
          .orderBy("phase")
      },
      Some(s"""
        SELECT p.phase, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS total_cents,
               TRUE AS reclaimed
        FROM (VALUES ('1_pre_vacuum'), ('2_post_vacuum')) AS p(phase)
        JOIN orders ON o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Incremental consumption (CDC-read) over the versioned store:
    // three append commits land consecutive date slices, then a
    // downstream consumer asks "what changed since version k" — which
    // the store answers from the MANIFEST SET DIFFERENCE alone, reading
    // only the delta files (data files are immutable, so the answer is
    // exact). changes-since-1 must be exactly slices 2+3 and
    // changes-since-2 exactly slice 3 — the oracle replays the date
    // arithmetic. This is how index refresh / stats maintenance /
    // shard top-up consume a 100 TB ingest stream: cost tracks the
    // delta, never the table.
    QuerySpec("q217_versioned_changes",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_changes")
        val ordersOf = (lo: String, hi: String) =>
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
              col("o_orderdate") < lit(hi).cast("timestamp"))
            .select(col("o_orderkey"),
              Exact.cents(col("o_totalprice")).as("cents"))
        graft.store.Versioned.commitAppend(
          ordersOf("1996-01-01", "1996-07-01"), root)
        graft.store.Versioned.commitAppend(
          ordersOf("1996-07-01", "1997-01-01"), root)
        graft.store.Versioned.commitAppend(
          ordersOf("1997-01-01", "1998-01-01"), root)
        def changesSince(v: Long) =
          graft.store.Versioned.readChanges(s, root, v, 3L)
            .agg(count(lit(1)).as("n_orders"),
              sum(col("cents")).as("total_cents"))
            .select(lit(v).as("since_version"), col("n_orders"),
              col("total_cents"))
        changesSince(1L).unionByName(changesSince(2L))
          .orderBy("since_version")
      },
      Some(s"""
        SELECT CAST(v.since_version AS BIGINT) AS since_version,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS total_cents
        FROM (VALUES (1), (2)) AS v(since_version)
        JOIN orders ON o_orderdate < TIMESTAMP '1998-01-01'
          AND o_orderdate >= (CASE v.since_version
            WHEN 1 THEN TIMESTAMP '1996-07-01'
            ELSE TIMESTAMP '1997-01-01' END)
        GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Schema evolution across an append lineage: version 1 commits
    // (o_orderkey, cents); version 2 appends a batch that ALSO carries
    // o_orderpriority. The merged read unions the file schemas —
    // pre-evolution rows surface the new column as NULL, grouped here
    // under an explicit label with exact counts/sums, so "old data
    // readable through the widened schema" is hash-checked, not
    // assumed. A pinned version-1 read keeps its original narrow
    // schema untouched (VersionedSpec pins that); schema widening
    // never rewrites committed files — the lakehouse evolution
    // contract.
    QuerySpec("q220_schema_evolution",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_evolve")
        val base = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
        val widened = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"),
            col("o_orderpriority"))
        graft.store.Versioned.commitAppend(base, root)
        graft.store.Versioned.commitAppend(widened, root)
        graft.store.Versioned.read(s, root, mergeSchema = true)
          .groupBy(coalesce(col("o_orderpriority"),
            lit("(pre-evolution)")).as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("cents")).as("total_cents"))
          .orderBy("priority")
      },
      Some(s"""
        SELECT CASE WHEN o_orderdate < TIMESTAMP '1996-07-01'
                 THEN '(pre-evolution)' ELSE o_orderpriority END
                 AS priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS total_cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Row-level MERGE (upsert) as a copy-on-write commit: v1 commits the
    // 1996-H1 slice; one merge then REPLACES the rows whose key ≡ 3
    // (mod 10) with bumped amounts AND inserts the 1996-H2 slice — the
    // reference's URL-keyed `ON CONFLICT … DO UPDATE` upsert
    // (`linkgraph/store/cdb/cdb.go:16-22`) as a STORAGE operation
    // instead of read-time latestByKey: superseded rows physically
    // leave the new version (n_keys = n_orders proves key-uniqueness
    // post-merge), only matched files were rewritten, and the PINNED
    // parent still reads the unmodified H1 slice — both phases
    // hash-checked against the oracle's replay of the same arithmetic.
    QuerySpec("q235_versioned_merge",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_merge_q")
        val ordersOf = (lo: String, hi: String) =>
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
              col("o_orderdate") < lit(hi).cast("timestamp"))
            .select(col("o_orderkey"),
              Exact.cents(col("o_totalprice")).as("cents"))
        val v1 = graft.store.Versioned.commitAppend(
          ordersOf("1996-01-01", "1996-07-01"), root)
        val updates = ordersOf("1996-01-01", "1996-07-01")
          .filter(pmod(col("o_orderkey"), lit(10L)) === 3)
          .select(col("o_orderkey"), (col("cents") + 1000L).as("cents"))
          .unionByName(ordersOf("1996-07-01", "1997-01-01"))
        val v2 = graft.store.Versioned.commitMerge(updates, root,
          Seq("o_orderkey"))
        def roll(phase: String, v: Long) =
          graft.store.Versioned.read(s, root, v)
            .agg(count(lit(1)).as("n_orders"),
              countDistinct(col("o_orderkey")).as("n_keys"),
              sum(col("cents")).as("total_cents"))
            .select(lit(phase).as("phase"), col("n_orders"),
              col("n_keys"), col("total_cents"))
        roll("1_merged", v2).unionByName(roll("2_pinned_parent", v1))
          .orderBy("phase")
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey,
                 ${Exact.centsSql("o_totalprice")} AS cents, o_orderdate
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'),
        merged AS (
          SELECT o_orderkey,
                 cents + CASE WHEN o_orderdate < TIMESTAMP '1996-07-01'
                               AND o_orderkey % 10 = 3
                              THEN 1000 ELSE 0 END AS cents
          FROM base),
        pinned AS (
          SELECT o_orderkey, cents FROM base
          WHERE o_orderdate < TIMESTAMP '1996-07-01')
        SELECT '1_merged' AS phase,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM merged
        UNION ALL
        SELECT '2_pinned_parent', CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT o_orderkey) AS BIGINT),
               CAST(sum(cents) AS BIGINT)
        FROM pinned
        ORDER BY phase""")),

    // ------------------------------------------------------------------
    // Row-level DELETE as a copy-on-write commit (the GDPR-delete
    // path): two append commits, then one delete physically removes
    // every key ≡ 0 (mod 7) from the new version — n_matching = 0
    // post-delete proves the rows are GONE from the snapshot, not
    // filtered at read time — while the pinned pre-delete version
    // still carries them (history is reclaimed by vacuum under
    // retention, not by the delete). Only files containing a match
    // were rewritten.
    QuerySpec("q236_versioned_delete",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_delete_q")
        val ordersOf = (lo: String, hi: String) =>
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
              col("o_orderdate") < lit(hi).cast("timestamp"))
            .select(col("o_orderkey"),
              Exact.cents(col("o_totalprice")).as("cents"))
        graft.store.Versioned.commitAppend(
          ordersOf("1996-01-01", "1996-07-01"), root)
        val v2 = graft.store.Versioned.commitAppend(
          ordersOf("1996-07-01", "1997-01-01"), root)
        val v3 = graft.store.Versioned.commitDelete(s, root,
          pmod(col("o_orderkey"), lit(7L)) === 0)
        def roll(phase: String, v: Long) =
          graft.store.Versioned.read(s, root, v)
            .agg(count(lit(1)).as("n_orders"),
              sum(col("cents")).as("total_cents"),
              sum(when(pmod(col("o_orderkey"), lit(7L)) === 0, 1L)
                .otherwise(0L)).as("n_matching"))
            .select(lit(phase).as("phase"), col("n_orders"),
              col("total_cents"), col("n_matching"))
        roll("1_post_delete", v3).unionByName(roll("2_pinned_pre", v2))
          .orderBy("phase")
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey,
                 ${Exact.centsSql("o_totalprice")} AS cents
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01')
        SELECT '1_post_delete' AS phase,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(0 AS BIGINT) AS n_matching
        FROM base WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT '2_pinned_pre', CAST(count(*) AS BIGINT),
               CAST(sum(cents) AS BIGINT),
               CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT)
        FROM base
        ORDER BY phase""")),

    // ------------------------------------------------------------------
    // File-level data skipping over a z-ordered versioned table: the
    // fact table is rewritten Morton-clustered on (l_partkey,
    // l_suppkey) and committed with per-file min/max stats in the
    // manifest sidecar; a two-column range query then PLANS only the
    // files whose intervals overlap the box — the require() proves the
    // sidecar actually pruned the file list (z-order makes BOTH
    // dimensions' per-file intervals tight, so a 1/10-ish box keeps a
    // minority of the 16 files) — and the aggregate over the pruned
    // scan hash-matches the oracle's full-table filter, proving
    // skipping lost nothing. At 100 TB this is the difference between
    // opening every footer and opening the admitted handful.
    QuerySpec("q239_versioned_skipping",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_skip_q")
        val li = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_suppkey"),
            Exact.cents(col("l_extendedprice")).as("cents"))
        graft.store.Versioned.commitOverwrite(
          graft.store.Layout.zorder2(li, col("l_partkey"),
            col("l_suppkey"), nFiles = 16), root,
          statsCols = Seq("l_partkey", "l_suppkey"))
        val bounds = Map("l_partkey" -> (100L, 300L),
          "l_suppkey" -> (10L, 40L))
        val (kept, total) = graft.store.Versioned.prunedFiles(root, bounds)
        require(kept.size < total,
          s"stats sidecar pruned nothing: ${kept.size} of $total files")
        graft.store.Versioned.readPruned(s, root, bounds)
          .filter(col("l_partkey").between(100L, 300L) &&
            col("l_suppkey").between(10L, 40L))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).as("total_cents"),
            countDistinct(col("l_partkey")).as("n_parts"))
      },
      Some(s"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(${Exact.centsSql("l_extendedprice")}) AS BIGINT)
                 AS total_cents,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        FROM lineitem
        WHERE l_partkey BETWEEN 100 AND 300
          AND l_suppkey BETWEEN 10 AND 40""")),

    // ------------------------------------------------------------------
    // Compaction (OPTIMIZE) as a copy-on-write commit: six small
    // append commits, then one bin-pack rewrites ONLY the small files —
    // the require() proves the file count physically dropped — while
    // the compacted snapshot's contents stay bit-identical (phase 1
    // hash-matches the oracle) and the pinned pre-compaction parent
    // still reads the original layout (phase 2, same rows). The
    // maintenance move that keeps a high-frequency-append table's file
    // count, manifest size and footer-open cost bounded at 100 TB.
    QuerySpec("q240_versioned_compact",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_compact_q")
        (0 until 6).foreach { i =>
          graft.store.Versioned.commitAppend(
            Tables.orders(s, dir)
              .filter(pmod(col("o_orderkey"), lit(6L)) === i.toLong)
              .select(col("o_orderkey"),
                Exact.cents(col("o_totalprice")).as("cents"))
              .coalesce(1), root, statsCols = Seq("o_orderkey"))
        }
        val parent = graft.store.Versioned.latestVersion(root)
        val nBefore = graft.store.Versioned.files(root).size
        val v = graft.store.Versioned.commitCompact(s, root,
          smallBytes = 8L << 20)
        val nAfter = graft.store.Versioned.files(root).size
        require(v == parent + 1 && nAfter < nBefore,
          s"compaction did not shrink the file list: $nBefore -> $nAfter")
        def roll(phase: String, ver: Long) =
          graft.store.Versioned.read(s, root, ver)
            .agg(count(lit(1)).as("n_orders"),
              sum(col("cents")).as("total_cents"),
              countDistinct(col("o_orderkey")).as("n_keys"))
            .select(lit(phase).as("phase"), col("n_orders"),
              col("total_cents"), col("n_keys"))
        roll("1_compacted", v).unionByName(roll("2_pinned_parent", parent))
          .orderBy("phase")
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey, ${Exact.centsSql("o_totalprice")} AS cents
          FROM orders)
        SELECT phase, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
        FROM base CROSS JOIN (VALUES ('1_compacted'),
          ('2_pinned_parent')) AS p(phase)
        GROUP BY phase ORDER BY phase""")),

    // ------------------------------------------------------------------
    // Bloom-sidecar point-lookup skipping: three append commits slice
    // orders by o_orderkey % 3, so every file's [min, max] interval
    // spans the whole key domain — range stats admit ALL files and only
    // the per-file bloom can prune an equality probe. The require pins
    // that it did; the probe's rollup (count + exact cents + the
    // line-count join) hash-matches the oracle's plain filter, proving
    // skipping lost nothing. This is the high-cardinality point-lookup
    // path (Delta's bloom index role) that min/max skipping (q239)
    // structurally cannot serve on unsorted keys.
    QuerySpec("q244_bloom_point_skip",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_bloom_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
        (0 until 3).foreach { i =>
          graft.store.Versioned.commitAppend(
            orders.filter(pmod(col("o_orderkey"), lit(3L)) === i.toLong)
              .coalesce(1), root,
            statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
        }
        val k0 = orders.agg(min(col("o_orderkey"))).head().getLong(0)
        val (kept, total) = graft.store.Versioned.prunedFiles(root,
          Map.empty, equalities = Map("o_orderkey" -> k0))
        require(kept.size < total,
          s"bloom pruned nothing: ${kept.size} of $total files")
        graft.store.Versioned.readPruned(s, root, Map.empty,
            equalities = Map("o_orderkey" -> k0))
          .filter(col("o_orderkey") === k0)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"),
            max(col("o_orderkey")).as("okey"))
      },
      Some(s"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS cents,
               CAST(max(o_orderkey) AS BIGINT) AS okey
        FROM orders
        WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""")),

    // ------------------------------------------------------------------
    // The FACADE read path (api.Engine.scanRange/lookup/tableCount)
    // over a z-ordered versioned links table — the reference's S1-S4
    // scans actually USING file skipping, not just the skipping
    // machinery exercised in isolation (q239/q244): events become a
    // (src=user_id, ts) link table, z-ordered and committed with stats
    // + bloom sidecars; the range+time scan plans only the files the
    // sidecar admits (require pins it), the point lookup plans the
    // bloom-admitted subset, and the count is metadata-only. The rollup
    // over all three phases hash-matches the oracle's plain filters —
    // skipping changed the PLAN, never the rows.
    QuerySpec("q248_facade_pruned_scan",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_facade_q")
        val links = Tables.events(s, dir).select(
          col("user_id").as("src"), col("event_id").as("dst"),
          expr("ts div 1000").as("ts_us"))
        // z-order on (src, HOUR-of-month): zValue2 interleaves low
        // 31 bits, so the time key must be scaled to a comparable
        // cardinality as src (raw epoch-µs would wrap every ~36 min
        // and destroy the clustering); the STORED ts_us column keeps
        // full precision and its sidecar intervals stay tight because
        // the sort clusters it
        val hourKey = ((col("ts_us") - lit(1704067200000000L))
          / lit(3600000000L)).cast("long")
        graft.store.Versioned.commitOverwrite(
          graft.store.Layout.zorder2(links, col("src"), hourKey,
            nFiles = 16), root,
          statsCols = Seq("src", "ts_us"), bloomCols = Seq("src"))
        val scan = graft.api.Engine.scanRange(s, root,
          idFrom = 10L, idTo = 20L, tsBefore = TsMidUs,
          idCol = "src", tsCol = "ts_us")
        require(scan.inputFiles.length <
          graft.store.Versioned.files(root).size,
          s"facade range scan pruned nothing")
        val hit = graft.api.Engine.lookup(s, root, key = 42L,
          keyCol = "src")
        val metaCount = graft.api.Engine.tableCount(s, root)
        scan.agg(count(lit(1)).as("n_range"),
            sum(col("ts_us")).as("ts_sum"))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit"),
            sum(col("dst")).as("dst_sum")))
          .withColumn("n_total", lit(metaCount))
      },
      Some(s"""
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM events
                WHERE user_id >= 10 AND user_id < 20
                  AND epoch_us(ts) < $TsMidUs) AS n_range,
               (SELECT CAST(sum(epoch_us(ts)) AS BIGINT) FROM events
                WHERE user_id >= 10 AND user_id < 20
                  AND epoch_us(ts) < $TsMidUs) AS ts_sum,
               (SELECT CAST(count(*) AS BIGINT) FROM events
                WHERE user_id = 42) AS n_hit,
               (SELECT CAST(sum(event_id) AS BIGINT) FROM events
                WHERE user_id = 42) AS dst_sum,
               (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_total""")),

    // ------------------------------------------------------------------
    // RESTORE + shallow CLONE close the lakehouse lifecycle: a bad
    // overwrite is rolled back by a FORWARD metadata-only commit (v4
    // lists v2's files verbatim — zero data bytes move, history stays
    // linear and the bad v3 stays time-travelable until vacuum), and a
    // zero-copy clone forks the table for experimentation, evolving
    // independently of the source. Three phases hash the lifecycle:
    // restored latest ≡ the pre-overwrite contents, the bad version
    // still readable at its pin, the clone = source + its own append
    // while the source is untouched.
    QuerySpec("q249_versioned_restore_clone",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_restore_q")
        val ordersOf = (lo: String, hi: String) =>
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
              col("o_orderdate") < lit(hi).cast("timestamp"))
            .select(col("o_orderkey"),
              Exact.cents(col("o_totalprice")).as("cents"))
        graft.store.Versioned.commitAppend(
          ordersOf("1996-01-01", "1996-07-01"), root)
        graft.store.Versioned.commitAppend(
          ordersOf("1996-07-01", "1997-01-01"), root)
        // the "bad" commit rewrites the table with the wrong year
        graft.store.Versioned.commitOverwrite(
          ordersOf("1997-01-01", "1997-07-01"), root)
        val vr = graft.store.Versioned.commitRestore(root, 2L)
        require(vr == 4L, s"restore must be a forward commit, got $vr")
        val clone = graft.util.TempDirs.scratch("graft_clone_q") + "/t"
        graft.store.Versioned.cloneShallow(root, clone)
        graft.store.Versioned.commitAppend(
          ordersOf("1997-07-01", "1998-01-01"), clone)
        def rollup(phase: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_orders"),
              sum(col("cents")).as("total_cents"))
            .select(lit(phase).as("phase"), col("n_orders"),
              col("total_cents"))
        rollup("1_restored", graft.store.Versioned.read(s, root))
          .unionByName(rollup("2_bad_pinned",
            graft.store.Versioned.read(s, root, 3L)))
          .unionByName(rollup("3_clone_evolved",
            graft.store.Versioned.read(s, clone)))
          .orderBy("phase")
      },
      Some(s"""
        SELECT p.phase,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS total_cents
        FROM (VALUES ('1_restored'), ('2_bad_pinned'),
                     ('3_clone_evolved')) AS p(phase)
        JOIN orders ON CASE p.phase
          WHEN '1_restored' THEN o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'
          WHEN '2_bad_pinned' THEN o_orderdate >= TIMESTAMP '1997-01-01'
            AND o_orderdate < TIMESTAMP '1997-07-01'
          ELSE (o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01')
            OR (o_orderdate >= TIMESTAMP '1997-07-01'
            AND o_orderdate < TIMESTAMP '1998-01-01') END
        GROUP BY p.phase ORDER BY p.phase""")),

    // ------------------------------------------------------------------
    // Three-dimensional z-order: the reference's link table is
    // (src, dst, ts), and its read paths filter on ANY of the three —
    // a 2-dim layout leaves the third dimension unprunable. zValueN
    // interleaves all three into ⌊63/3⌋ bits each; the stats-enabled
    // commit then gives per-file intervals tight in all three, so a
    // 3-dim box plans a minority of files (require pins it) and the
    // rollup hash-matches the oracle's plain filter.
    QuerySpec("q250_zorder3_box",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_z3_q")
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").as("src"), col("l_partkey").as("dst"),
          col("l_suppkey").as("ts3"))
        graft.store.Versioned.commitOverwrite(
          graft.store.Layout.zorderN(li,
            Seq(col("src"), col("dst"), col("ts3")), nFiles = 32),
          root, statsCols = Seq("src", "dst", "ts3"))
        // SF-proportional box: the lower quarter of each dimension's
        // domain (a fixed box covers the whole table at small SFs and
        // nothing could prune)
        val mx = li.agg(max(col("src")), max(col("dst")),
          max(col("ts3"))).head()
        val bounds = Map("src" -> (0L, mx.getLong(0) / 4),
          "dst" -> (0L, mx.getLong(1) / 4),
          "ts3" -> (0L, mx.getLong(2) / 4))
        val (kept, total) = graft.store.Versioned.prunedFiles(root,
          bounds)
        require(kept.size < total,
          s"3-dim z skipping pruned nothing: ${kept.size} of $total")
        graft.store.Versioned.readPruned(s, root, bounds)
          .filter(col("src") <= mx.getLong(0) / 4 &&
            col("dst") <= mx.getLong(1) / 4 &&
            col("ts3") <= mx.getLong(2) / 4)
          .agg(count(lit(1)).as("n_rows"), sum(col("src")).as("src_sum"),
            sum(col("dst")).as("dst_sum"))
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(l_orderkey) AS BIGINT) AS src_sum,
               CAST(sum(l_partkey) AS BIGINT) AS dst_sum
        FROM lineitem
        WHERE l_orderkey <= (SELECT max(l_orderkey) // 4 FROM lineitem)
          AND l_partkey <= (SELECT max(l_partkey) // 4 FROM lineitem)
          AND l_suppkey <= (SELECT max(l_suppkey) // 4 FROM lineitem)""")),

    // ------------------------------------------------------------------
    // DELETION VECTORS (merge-on-read delete): two row-level deletes
    // tombstone (file, row_index) pairs in kilobyte sidecars — the
    // require pins that ZERO data files were rewritten — and reads
    // apply them as a broadcast anti-join; time travel still sees the
    // pre-delete rows; PURGE folds the tombstones into rewritten files
    // and the table is copy-on-write clean again. At 100 TB this is
    // the delete-economics operator: a ten-row GDPR delete costs
    // kilobytes, not a gigabyte rewrite. The overlapping predicates
    // (%7 and %5 share the %35 keys) pin that already-tombstoned rows
    // never re-tombstone.
    QuerySpec("q251_deletion_vectors",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_dv_q")
        val orders = Tables.orders(s, dir).select(col("o_orderkey"),
          Exact.cents(col("o_totalprice")).as("cents"))
        (0 until 3).foreach { i =>
          graft.store.Versioned.commitAppend(
            orders.filter(pmod(col("o_orderkey"), lit(3L)) === i.toLong)
              .coalesce(1), root, statsCols = Seq("o_orderkey"))
        }
        val before = graft.store.Versioned.files(root).toSet
        graft.store.Versioned.commitDeleteVectors(s, root,
          pmod(col("o_orderkey"), lit(7L)) === 0L)
        val v5 = graft.store.Versioned.commitDeleteVectors(s, root,
          pmod(col("o_orderkey"), lit(5L)) === 1L)
        val after = graft.store.Versioned.files(root).toSet
        require(before.subsetOf(after) &&
          (after -- before).forall(_.contains("/dv/")),
          "deletion vectors must only ADD tombstones, never rewrite")
        val vp = graft.store.Versioned.commitPurgeDeleteVectors(s, root)
        require(graft.store.Versioned.files(root, vp)
          .forall(!_.contains("/dv/")), "purge must clear tombstones")
        def rollup(phase: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_orders"),
              sum(col("cents")).as("total_cents"))
            .select(lit(phase).as("phase"), col("n_orders"),
              col("total_cents"))
        rollup("1_live", graft.store.Versioned.read(s, root, v5))
          .unionByName(rollup("2_time_travel",
            graft.store.Versioned.read(s, root, 3L)))
          .unionByName(rollup("3_purged",
            graft.store.Versioned.read(s, root, vp)))
          .orderBy("phase")
      },
      Some(s"""
        SELECT p.phase,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS total_cents
        FROM (VALUES ('1_live'), ('2_time_travel'), ('3_purged'))
          AS p(phase)
        JOIN orders ON CASE WHEN p.phase = '2_time_travel' THEN TRUE
          ELSE NOT (o_orderkey % 7 = 0) AND NOT (o_orderkey % 5 = 1)
          END
        GROUP BY p.phase ORDER BY p.phase""")),

    // ------------------------------------------------------------------
    // OPTIMIZE ZORDER BY: high-frequency appends land row-group-of-
    // the-moment layouts whose per-file (src, dst) intervals all span
    // the whole domain — a 2-dim box prunes NOTHING. One clustering
    // compaction later the same table, same rows, prunes the same box
    // to a minority of files (both requires pin it). The rollup after
    // the rewrite hash-matches the oracle's plain filter: layout
    // maintenance changed the plan, never the rows.
    QuerySpec("q252_zorder_compact",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_zc_q")
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey").as("src"), col("l_partkey").as("dst"),
          col("l_quantity").cast("long").as("qty"))
        // 8 hash-sliced appends: every file spans both key domains
        (0 until 8).foreach { i =>
          graft.store.Versioned.commitAppend(
            li.filter(pmod(col("dst"), lit(8L)) === i.toLong)
              .coalesce(1), root, statsCols = Seq("src", "dst"))
        }
        val mx = li.agg(max(col("src")), max(col("dst"))).head()
        val bounds = Map("src" -> (0L, mx.getLong(0) / 4),
          "dst" -> (0L, mx.getLong(1) / 4))
        val (keptBefore, totalBefore) =
          graft.store.Versioned.prunedFiles(root, bounds)
        require(keptBefore.size == totalBefore,
          s"append layout should admit every file, " +
            s"pruned to ${keptBefore.size} of $totalBefore")
        val vz = graft.store.Versioned.commitCompact(s, root,
          smallBytes = 128L << 10, zorderBy = Seq("src", "dst"),
          zorderFiles = 16)
        val (keptAfter, totalAfter) =
          graft.store.Versioned.prunedFiles(root, bounds, vz)
        require(keptAfter.size < totalAfter,
          s"zorder compaction pruned nothing: " +
            s"${keptAfter.size} of $totalAfter")
        graft.store.Versioned.readPruned(s, root, bounds, vz)
          .filter(col("src") <= mx.getLong(0) / 4 &&
            col("dst") <= mx.getLong(1) / 4)
          .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("qty_sum"),
            sum(col("src")).as("src_sum"))
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                 AS qty_sum,
               CAST(sum(l_orderkey) AS BIGINT) AS src_sum
        FROM lineitem
        WHERE l_orderkey <= (SELECT max(l_orderkey) // 4 FROM lineitem)
          AND l_partkey <= (SELECT max(l_partkey) // 4 FROM lineitem)""")),

    // ------------------------------------------------------------------
    // MERGE-ON-READ upsert (q235's copy-on-write twin, Iceberg's MOR):
    // matched rows TOMBSTONE by deletion vector, updates append as new
    // files — the require pins that no existing file was rewritten.
    // Same upsert algebra as q235, so the oracle is q235's; at 100 TB
    // the write cost drops from "rewrite every matched file" to
    // "kilobytes of tombstones + the new rows", traded against the
    // read-time anti-join until a purge re-optimizes.
    QuerySpec("q255_mor_merge",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_mor_q")
        val ordersOf = (lo: String, hi: String) =>
          Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
              col("o_orderdate") < lit(hi).cast("timestamp"))
            .select(col("o_orderkey"),
              Exact.cents(col("o_totalprice")).as("cents"))
        val v1 = graft.store.Versioned.commitAppend(
          ordersOf("1996-01-01", "1996-07-01"), root,
          statsCols = Seq("o_orderkey"))
        val updates = ordersOf("1996-01-01", "1996-07-01")
          .filter(pmod(col("o_orderkey"), lit(10L)) === 3)
          .select(col("o_orderkey"), (col("cents") + 1000L).as("cents"))
          .unionByName(ordersOf("1996-07-01", "1997-01-01"))
        val before = graft.store.Versioned.files(root).toSet
        val v2 = graft.store.Versioned.commitMergeOnRead(updates, root,
          Seq("o_orderkey"))
        require(before.subsetOf(
          graft.store.Versioned.files(root, v2).toSet),
          "merge-on-read must never rewrite an existing file")
        def roll(phase: String, v: Long) =
          graft.store.Versioned.read(s, root, v)
            .agg(count(lit(1)).as("n_orders"),
              countDistinct(col("o_orderkey")).as("n_keys"),
              sum(col("cents")).as("total_cents"))
            .select(lit(phase).as("phase"), col("n_orders"),
              col("n_keys"), col("total_cents"))
        roll("1_merged", v2).unionByName(roll("2_pinned_parent", v1))
          .orderBy("phase")
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey,
                 ${Exact.centsSql("o_totalprice")} AS cents, o_orderdate
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'),
        merged AS (
          SELECT o_orderkey,
                 cents + CASE WHEN o_orderdate < TIMESTAMP '1996-07-01'
                               AND o_orderkey % 10 = 3
                              THEN 1000 ELSE 0 END AS cents
          FROM base),
        pinned AS (
          SELECT o_orderkey, cents FROM base
          WHERE o_orderdate < TIMESTAMP '1996-07-01')
        SELECT '1_merged' AS phase,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM merged
        UNION ALL
        SELECT '2_pinned_parent', CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT o_orderkey) AS BIGINT),
               CAST(sum(cents) AS BIGINT)
        FROM pinned
        ORDER BY phase""")),

    // ------------------------------------------------------------------
    // STRING-KEY file skipping — the reference's canonical identity is
    // the URL string (`linkgraph/store/cdb/cdb.go:16-22`; unique index
    // `000001_create_links_table.up.sql:3`), so a lakehouse that only
    // skips on integral keys scans every file for the system's MOST
    // COMMON upsert/lookup shape. The sidecars key strings in two
    // spaces: an order-preserving 8-byte-prefix key for stats
    // intervals and the full-value xxhash64 for blooms. This table is
    // the adversarial case for prefix stats — every URL shares the
    // 8-byte "https://" prefix, so intervals are a single point and
    // ONLY the hash bloom can discriminate. The requires pin that a
    // URL-keyed merge pre-prunes its match scan and a URL point
    // lookup plans a strict subset of files; the rollup hash-matches
    // the oracle's plain SQL, proving skipping lost nothing.
    QuerySpec("q256_url_key_skip",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_urlkey_q")
        val docs = Tables.documents(s, dir).select(
          concat(lit("https://"), col("source"), lit(".example/doc/"),
            col("doc_id")).as("url"),
          col("doc_id"), col("n_chars"))
        (0 until 8).foreach { i =>
          graft.store.Versioned.commitAppend(
            docs.filter(pmod(col("doc_id"), lit(8L)) === i.toLong)
              .coalesce(1), root,
            statsCols = Seq("url"), bloomCols = Seq("url"))
        }
        val parent = graft.store.Versioned.snapshot(root)
        val rels = parent.dataFiles
        // URL-keyed upsert: touched keys live in ONE slice (doc_id %
        // 40 ∈ {3, 11} ⊂ slice 3); the bloom probe must admit a
        // minority of files even though prefix stats are blind here
        val updates = docs
          .filter(pmod(col("doc_id"), lit(40L)) === 3L)
          .select(col("url"), col("doc_id"),
            (col("n_chars") + 1000L).as("n_chars"))
          .unionByName(docs
            .filter(pmod(col("doc_id"), lit(40L)) === 11L)
            .select(concat(lit("https://new.example/doc/"),
              col("doc_id")).as("url"), col("doc_id"), col("n_chars")))
        val (cands, _) = graft.store.Versioned.pruneMergeScan(
          updates, parent, Seq("url"))
        require(cands.size < rels.size,
          s"URL merge scanned ${cands.size} of ${rels.size} files - " +
            "string-key skipping is not engaging")
        graft.store.Versioned.commitMerge(updates, root, Seq("url"))
        // facade point lookup by URL: hash-bloom-admitted subset
        val url0 = docs.filter(col("doc_id") === 0L)
          .select(col("url")).head().getString(0)
        val hit = graft.api.Engine.lookupKey(s, root, url0,
          keyCol = "url")
        require(hit.inputFiles.length < rels.size,
          s"URL lookup planned ${hit.inputFiles.length} files")
        graft.store.Versioned.read(s, root)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("url")).as("n_keys"),
            sum(col("n_chars")).as("chars_sum"))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit"),
            sum(col("n_chars")).as("hit_chars")))
      },
      Some("""
        WITH docs AS (
          SELECT 'https://' || source || '.example/doc/' ||
                 CAST(doc_id AS VARCHAR) AS url, doc_id, n_chars
          FROM documents),
        merged AS (
          SELECT url, doc_id,
                 n_chars + CASE WHEN doc_id % 40 = 3 THEN 1000
                                ELSE 0 END AS n_chars
          FROM docs
          UNION ALL
          SELECT 'https://new.example/doc/' || CAST(doc_id AS VARCHAR),
                 doc_id, n_chars
          FROM docs WHERE doc_id % 40 = 11),
        hit AS (
          SELECT * FROM merged
          WHERE url = (SELECT url FROM docs WHERE doc_id = 0))
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM merged) AS n_rows,
               (SELECT CAST(count(DISTINCT url) AS BIGINT) FROM merged)
                 AS n_keys,
               (SELECT CAST(sum(n_chars) AS BIGINT) FROM merged)
                 AS chars_sum,
               (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
               (SELECT CAST(sum(n_chars) AS BIGINT) FROM hit)
                 AS hit_chars""")),

    // ------------------------------------------------------------------
    // CHANGE DATA FEED from the commit log's file algebra alone (no CDC
    // files written at commit time): added data files are that commit's
    // inserts, added deletion-vector files are its deletes (tombstones
    // join back to only the files they reference and materialize the
    // deleted rows with full schema + _change_type/_commit_version).
    // A downstream consumer gets exactly-once row changes whose cost
    // tracks the delta, never the table — the incremental-ETL read of
    // every lakehouse. Oracle replays the same lineage as literal
    // change sets.
    QuerySpec("q253_change_feed",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_cdf_q")
        val orders = Tables.orders(s, dir).select(col("o_orderkey"),
          Exact.cents(col("o_totalprice")).as("cents"))
        def slice(i: Int) =
          orders.filter(pmod(col("o_orderkey"), lit(3L)) === i.toLong)
            .coalesce(1)
        graft.store.Versioned.commitAppend(slice(0), root,
          statsCols = Seq("o_orderkey"))
        graft.store.Versioned.commitAppend(slice(1), root)
        graft.store.Versioned.commitDeleteVectors(s, root,
          pmod(col("o_orderkey"), lit(5L)) === 2L)
        graft.store.Versioned.commitAppend(slice(2), root)
        graft.store.Versioned.readChangeFeed(s, root, 0L)
          .groupBy(col("_change_type"), col("_commit_version"))
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
          .orderBy("_commit_version", "_change_type")
      },
      Some(s"""
        WITH ch AS (
          SELECT 'insert' AS t, 1 AS v, ${Exact.centsSql("o_totalprice")}
            AS cents FROM orders WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT 'insert', 2, ${Exact.centsSql("o_totalprice")}
            FROM orders WHERE o_orderkey % 3 = 1
          UNION ALL
          SELECT 'delete', 3, ${Exact.centsSql("o_totalprice")}
            FROM orders WHERE o_orderkey % 3 <> 2 AND o_orderkey % 5 = 2
          UNION ALL
          SELECT 'insert', 4, ${Exact.centsSql("o_totalprice")}
            FROM orders WHERE o_orderkey % 3 = 2)
        SELECT t AS _change_type, CAST(v AS BIGINT) AS _commit_version,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM ch GROUP BY 1, 2 ORDER BY _commit_version, _change_type""")),

    // ------------------------------------------------------------------
    // CHANGE DATA FEED across COPY-ON-WRITE rewrites (q253's twin for
    // the default merge path): a merge/delete committed with cdc=true
    // stages its exact row changes as a cdc/ sidecar (Delta's
    // _change_data role) — the rewritten data files carry both changed
    // and merely-recopied rows, so the sidecar is the ONLY exact
    // derivation; the feed reads it back verbatim. A compaction
    // (row-neutral rewrite) crosses the feed as zero changes. The
    // extra commit cost is one write of rows already in hand; cdc
    // stays off by default. Oracle replays the lineage as literal
    // change sets.
    QuerySpec("q258_cow_change_feed",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_cowcdf_q")
        val orders = Tables.orders(s, dir).select(col("o_orderkey"),
          Exact.cents(col("o_totalprice")).as("cents"))
        graft.store.Versioned.commitAppend(
          orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0L)
            .coalesce(1), root, statsCols = Seq("o_orderkey"))
        // CoW MERGE with cdc: bump cents on the %6==0 half (matched),
        // insert the %3==1 slice (unmatched)
        val updates = orders
          .filter(pmod(col("o_orderkey"), lit(6L)) === 0L)
          .select(col("o_orderkey"), (col("cents") + 1000L).as("cents"))
          .unionByName(
            orders.filter(pmod(col("o_orderkey"), lit(3L)) === 1L))
        graft.store.Versioned.commitMerge(updates, root,
          Seq("o_orderkey"), cdc = true)
        // CoW DELETE with cdc
        graft.store.Versioned.commitDelete(s, root,
          pmod(col("o_orderkey"), lit(5L)) === 1L, cdc = true)
        // row-neutral compaction: zero feed changes
        graft.store.Versioned.commitCompact(s, root,
          smallBytes = 64L << 20)
        graft.store.Versioned.readChangeFeed(s, root, 0L)
          .groupBy(col("_change_type"), col("_commit_version"))
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
          .orderBy("_commit_version", "_change_type")
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey AS k,
                 ${Exact.centsSql("o_totalprice")} AS cents
          FROM orders),
        v2ins AS (
          SELECT k, cents + 1000 AS cents FROM base WHERE k % 6 = 0
          UNION ALL
          SELECT k, cents FROM base WHERE k % 3 = 1),
        live2 AS (
          SELECT k, cents + CASE WHEN k % 6 = 0 THEN 1000 ELSE 0 END
            AS cents
          FROM base WHERE k % 3 = 0
          UNION ALL
          SELECT k, cents FROM base WHERE k % 3 = 1),
        ch AS (
          SELECT 'insert' AS t, 1 AS v, cents FROM base WHERE k % 3 = 0
          UNION ALL
          SELECT 'delete', 2, cents FROM base WHERE k % 6 = 0
          UNION ALL
          SELECT 'insert', 2, cents FROM v2ins
          UNION ALL
          SELECT 'delete', 3, cents FROM live2 WHERE k % 5 = 1)
        SELECT t AS _change_type, CAST(v AS BIGINT) AS _commit_version,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM ch GROUP BY 1, 2 ORDER BY _commit_version, _change_type""")),

    // ------------------------------------------------------------------
    // SIDECAR BACKFILL (Delta's ANALYZE / CREATE BLOOMFILTER INDEX
    // role): a table committed WITHOUT skipping metadata gets stats +
    // bloom sidecars retroactively via indexSkipping — no new table
    // version, no data rewrite; a point lookup that admitted every
    // file before admits a bloom-pruned minority after (both requires
    // pin the flip), and the backfilled row counts make COUNT(*)
    // metadata-only. At 100 TB this is how an inherited/imported table
    // joins the skipping regime without a rewrite. The rollup
    // hash-matches the oracle's plain filter - indexing changed the
    // PLAN, never the rows.
    QuerySpec("q259_sidecar_backfill",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_backfill_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
        (0 until 6).foreach { i =>
          graft.store.Versioned.commitAppend(
            orders.filter(pmod(col("o_orderkey"), lit(6L)) === i.toLong)
              .coalesce(1), root) // deliberately NO sidecar columns
        }
        val k0 = orders.agg(min(col("o_orderkey"))).head().getLong(0)
        val before = graft.store.Versioned.prunedFiles(root, Map.empty,
          equalities = Map("o_orderkey" -> k0))._1.size
        require(before == 6,
          s"pre-backfill lookup must admit every file, admitted $before")
        graft.store.Versioned.indexSkipping(s, root,
          statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
        val (kept, total) = graft.store.Versioned.prunedFiles(root,
          Map.empty, equalities = Map("o_orderkey" -> k0))
        require(kept.size < total,
          s"backfilled bloom pruned nothing: ${kept.size} of $total")
        val metaCount = graft.store.Versioned.metadataCount(root)
          .getOrElse(sys.error("backfilled stats must serve COUNT(*)"))
        graft.store.Versioned.readPruned(s, root, Map.empty,
            equalities = Map("o_orderkey" -> k0))
          .filter(col("o_orderkey") === k0)
          .agg(count(lit(1)).as("n_hit"), sum(col("cents")).as("cents"),
            max(col("o_orderkey")).as("okey"))
          .withColumn("n_total", lit(metaCount))
      },
      Some(s"""
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders
                WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AS n_hit,
               (SELECT CAST(sum(${Exact.centsSql("o_totalprice")})
                 AS BIGINT) FROM orders
                WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AS cents,
               (SELECT CAST(max(o_orderkey) AS BIGINT) FROM orders
                WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
                 AS okey,
               (SELECT CAST(count(*) AS BIGINT) FROM orders)
                 AS n_total""")),

    // ------------------------------------------------------------------
    // format("graft") DATA SOURCE: the versioned store read and written
    // through Spark's own DataFrameReader/Writer, so plain Catalyst
    // predicates drive file skipping with no store API in the query at
    // all (Delta's TahoeLogFileIndex role). The table is committed via
    // df.write.format("graft") in 6 disjoint o_orderkey range slices;
    // the band read's executed plan must admit ≤ 2 of 6 files purely
    // from its WHERE clause (the require pins it via the relation's
    // OWN FileIndex and the scan's pushed dataFilters). A deletion-
    // vector commit then flips the source to its join-based fallback
    // relation — same rows, tombstones applied — while versionAsOf
    // time travel still plans the native pre-DV scan. Oracle replays
    // both reads as plain filters.
    QuerySpec("q260_format_datasource",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_dsrc_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 6 + 1
        (0 until 6).foreach { i =>
          orders.filter(col("o_orderkey") >= i * w &&
              col("o_orderkey") < (i + 1) * w)
            .coalesce(1)
            .write.format("graft").mode("append")
            .option("statsCols", "o_orderkey")
            .option("bloomCols", "o_orderkey")
            .save(root)
        }
        def planned(df: org.apache.spark.sql.DataFrame): Int =
          df.queryExecution.executedPlan.collect {
            case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
              sc.relation.location
                .listFiles(sc.partitionFilters, sc.dataFilters)
                .map(_.files.size).sum
          }.sum
        val band = s.read.format("graft").load(root)
          .filter(col("o_orderkey") >= w && col("o_orderkey") < 3 * w)
        require(planned(band) <= 2,
          s"band WHERE must admit <=2 of 6 files, planned ${planned(band)}")
        graft.store.Versioned.commitDeleteVectors(s, root,
          pmod(col("o_orderkey"), lit(7L)) === 3L)
        // pre-DV time travel keeps the native file-scan relation
        val asOf = s.read.format("graft").option("versionAsOf", "6")
          .load(root)
          .filter(col("o_orderkey") >= w && col("o_orderkey") < 3 * w)
        require(planned(asOf) <= 2, "versionAsOf must still file-skip")
        // latest carries tombstones: the DV fallback applies them
        val live = s.read.format("graft").load(root)
        asOf.agg(count(lit(1)).as("band_n"),
            sum(col("cents")).as("band_cents"))
          .crossJoin(live.agg(count(lit(1)).as("live_n"),
            sum(col("cents")).as("live_cents")))
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey AS k,
                 ${Exact.centsSql("o_totalprice")} AS cents
          FROM orders),
        wv AS (SELECT CAST(FLOOR(max(k) / 6.0) AS BIGINT) + 1 AS w
               FROM base),
        band AS (SELECT base.* FROM base, wv
                 WHERE k >= w AND k < 3 * w),
        live AS (SELECT * FROM base WHERE k % 7 <> 3)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM band) AS band_n,
               (SELECT CAST(sum(cents) AS BIGINT) FROM band)
                 AS band_cents,
               (SELECT CAST(count(*) AS BIGINT) FROM live) AS live_n,
               (SELECT CAST(sum(cents) AS BIGINT) FROM live)
                 AS live_cents""")),

    // ------------------------------------------------------------------
    // PARTITIONED TABLES: hive-style partition columns in the
    // versioned store (Delta/Iceberg partitioning role). The layout
    // rides type-tagged shadow dirs (`__pi_c=v` / `__ps_c=v`) while
    // the data files keep every real column, so every consumer reads
    // the same schema — and file skipping prunes from the PATH before
    // any stats/bloom sidecar byte is read (at 100 TB, partition
    // pruning is the first-order skip: zero metadata IO beyond the
    // manifest). Two tables pin both key kinds: orders partitioned by
    // an integral bucket (bounds probe), documents by the string
    // source column (prefix-key + value-hash probe through the same
    // sidecar spaces). Requires pin minority admission; the rollup
    // hash-matches DuckDB's plain filters.
    QuerySpec("q261_partitioned_table",
      (s, dir) => {
        val rootI = graft.util.TempDirs.scratch("graft_part_qi")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
          .withColumn("bucket", pmod(col("o_orderkey"), lit(8L)))
        graft.store.Versioned.commitAppend(orders, rootI,
          partitionBy = Seq("bucket"))
        val (keptI, totalI) = graft.store.Versioned.prunedFiles(rootI,
          Map("bucket" -> (3L, 3L)))
        require(keptI.size < totalI,
          s"bucket probe admitted ${keptI.size} of $totalI files")
        val b3 = graft.store.Versioned.readPruned(s, rootI,
            Map("bucket" -> (3L, 3L)))
          .filter(col("bucket") === 3L)
          .agg(count(lit(1)).as("b_n"), sum(col("cents")).as("b_cents"))

        val rootS = graft.util.TempDirs.scratch("graft_part_qs")
        val docs = Tables.documents(s, dir)
          .select(col("source"), col("doc_id"), col("n_chars"))
        graft.store.Versioned.commitAppend(docs, rootS,
          partitionBy = Seq("source"))
        val src = docs.agg(min(col("source"))).head().getString(0)
        val (keptS, totalS) = graft.store.Versioned.prunedFiles(rootS,
          Map.empty, stringEqualities = Map("source" -> src))
        require(keptS.size < totalS,
          s"source probe admitted ${keptS.size} of $totalS files")
        val s0 = graft.store.Versioned.readPruned(s, rootS, Map.empty,
            stringEqualities = Map("source" -> src))
          .filter(col("source") === src)
          .agg(count(lit(1)).as("s_n"), sum(col("n_chars")).as("s_chars"))
        b3.crossJoin(s0)
      },
      Some(s"""
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders
                WHERE o_orderkey % 8 = 3) AS b_n,
               (SELECT CAST(sum(${Exact.centsSql("o_totalprice")})
                 AS BIGINT) FROM orders
                WHERE o_orderkey % 8 = 3) AS b_cents,
               (SELECT CAST(count(*) AS BIGINT) FROM documents
                WHERE source = (SELECT min(source) FROM documents))
                 AS s_n,
               (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
                WHERE source = (SELECT min(source) FROM documents))
                 AS s_chars""")),

    // ------------------------------------------------------------------
    // REPLACE WHERE (Delta's `replaceWhere` — the partition-backfill
    // idiom): one commit atomically swaps every row matching the
    // predicate for a re-derived frame, validating the frame carries
    // NO rows outside the region. On the bucket-partitioned orders
    // table the match scan path-prunes to the replaced partition, so
    // the require can pin that every other partition's files persist
    // BY REFERENCE (zero rewrite) across the commit; cdc=true keeps
    // the change feed derivable (exact delete+insert records). Oracle
    // replays the backfill as a CASE projection plus literal change
    // sets.
    QuerySpec("q262_replace_where",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_rw_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
          .withColumn("bucket", pmod(col("o_orderkey"), lit(8L)))
        graft.store.Versioned.commitAppend(orders, root,
          partitionBy = Seq("bucket"))
        val repl = orders.filter(col("bucket") === 3L)
          .select(col("o_orderkey"),
            (col("cents") + 5000L).as("cents"), col("bucket"))
        graft.store.Versioned.commitReplaceWhere(repl, root,
          col("bucket") === 3L, cdc = true, partitionBy = Seq("bucket"))
        val v1 = graft.store.Versioned.files(root, 1L)
        val v2 = graft.store.Versioned.files(root, 2L).toSet
        require(v1.filterNot(_.contains("__pi_bucket=3"))
          .forall(v2.contains),
          "replaceWhere must keep every other partition by reference")
        require(!v1.filter(_.contains("__pi_bucket=3"))
          .exists(v2.contains),
          "replaceWhere must drop the replaced partition's old files")
        val live = graft.store.Versioned.read(s, root)
        val feed = graft.store.Versioned.readChangeFeed(s, root, 1L)
        live.agg(count(lit(1)).as("n_live"),
            sum(col("cents")).as("cents_live"))
          .crossJoin(feed.agg(
            sum(when(col("_change_type") === "delete", 1L)
              .otherwise(0L)).as("n_del"),
            sum(when(col("_change_type") === "insert", col("cents")))
              .as("cents_ins")))
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey AS k,
                 ${Exact.centsSql("o_totalprice")} AS cents
          FROM orders),
        b3 AS (SELECT * FROM base WHERE k % 8 = 3)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_live,
               (SELECT CAST(sum(cents +
                  CASE WHEN k % 8 = 3 THEN 5000 ELSE 0 END) AS BIGINT)
                FROM base) AS cents_live,
               (SELECT CAST(count(*) AS BIGINT) FROM b3) AS n_del,
               (SELECT CAST(sum(cents + 5000) AS BIGINT) FROM b3)
                 AS cents_ins""")),

    // ------------------------------------------------------------------
    // CHECK CONSTRAINTS (Delta's table constraints): named SQL
    // predicates enforced on every staged write through the single
    // stage() choke point — a violating batch fails LOUDLY before any
    // data bytes land (the requires pin both the refusal and that the
    // table version did not advance), adding a rule the existing data
    // breaks is refused, and the valid half commits normally. Oracle
    // replays the surviving contents as a plain aggregate.
    QuerySpec("q263_check_constraints",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_cons_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
        graft.store.Versioned.commitAppend(
          orders.filter(pmod(col("o_orderkey"), lit(2L)) === 0L), root)
        graft.store.Versioned.addCheckConstraint(s, root,
          "cents_nonneg", "cents >= 0")
        val before = graft.store.Versioned.latestVersion(root)
        val threw =
          try {
            graft.store.Versioned.commitAppend(
              orders.filter(pmod(col("o_orderkey"), lit(2L)) === 1L)
                .withColumn("cents", col("cents") - lit(1L << 60)),
              root)
            false
          } catch { case _: IllegalArgumentException => true }
        require(threw, "a violating batch must be refused")
        require(graft.store.Versioned.latestVersion(root) == before,
          "a refused batch must not advance the table")
        graft.store.Versioned.commitAppend(
          orders.filter(pmod(col("o_orderkey"), lit(2L)) === 1L), root)
        graft.store.Versioned.read(s, root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).as("cents_sum"),
            min(col("cents")).as("cents_min"))
      },
      Some(s"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS cents_sum,
               CAST(min(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS cents_min
        FROM orders""")),

    // ------------------------------------------------------------------
    // SQL DML over the store: INSERT INTO / UPDATE / DELETE FROM /
    // MERGE INTO on a `USING graft` temp view, every statement routed
    // through the manifest protocol by the session-extension rule
    // (GraftInsertRule) — versions, time travel and history behave
    // exactly as the Scala API (the require pins one version per
    // statement). Without the rule, INSERT would write unlisted
    // parquet into the table dir (invisible rows) and the other three
    // would fail analysis. Oracle replays the statement sequence as
    // CASE/filter algebra.
    QuerySpec("q264_sql_dml",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_dml_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
        orders.filter(pmod(col("o_orderkey"), lit(2L)) === 0L)
          .write.format("graft").mode("append").save(root)
        orders.createOrReplaceTempView("graft_q264_orders")
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_q264_t " +
          s"USING graft OPTIONS (path '$root')")
        s.sql("INSERT INTO graft_q264_t " +
          "SELECT o_orderkey, cents FROM graft_q264_orders " +
          "WHERE o_orderkey % 2 = 1")
        s.sql("UPDATE graft_q264_t SET cents = cents + 100 " +
          "WHERE o_orderkey % 10 = 0")
        s.sql("DELETE FROM graft_q264_t WHERE o_orderkey % 7 = 0")
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_q264_src AS " +
          "SELECT o_orderkey, CAST(77 AS BIGINT) AS cents " +
          "FROM graft_q264_orders WHERE o_orderkey % 5 = 1")
        s.sql("MERGE INTO graft_q264_t USING graft_q264_src " +
          "ON graft_q264_t.o_orderkey = graft_q264_src.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
        require(graft.store.Versioned.latestVersion(root) == 5L,
          "each DML statement must publish exactly one version")
        graft.store.Versioned.read(s, root)
          .agg(count(lit(1)).as("n_live"),
            sum(col("cents")).as("cents_live"),
            sum(when(pmod(col("o_orderkey"), lit(5L)) === 1L, 1L)
              .otherwise(0L)).as("n_merged"))
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey AS k,
                 ${Exact.centsSql("o_totalprice")} AS cents
          FROM orders),
        live AS (
          SELECT k, CASE WHEN k % 5 = 1 THEN 77
                         WHEN k % 10 = 0 THEN cents + 100
                         ELSE cents END AS cents
          FROM base WHERE k % 7 <> 0 OR k % 5 = 1)
        SELECT CAST(count(*) AS BIGINT) AS n_live,
               CAST(sum(cents) AS BIGINT) AS cents_live,
               CAST(sum(CASE WHEN k % 5 = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_merged
        FROM live""")),

    // ------------------------------------------------------------------
    // PERSISTENT CATALOG (round 14): graft tables BY NAME in
    // spark_catalog — CREATE TABLE ... USING graft LOCATION, INSERT /
    // UPDATE by name, and VERSION AS OF time travel by name from a
    // FRESH SparkSession (shared catalog state). Every real lakehouse
    // interaction starts `SELECT ... FROM name`, not `load(path)`; the
    // reference wires its stores by named handle, never by path
    // (monolith/main.go:89-124). The requires pin cross-session
    // visibility; the rollup hash-matches DuckDB replaying the
    // statement algebra.
    QuerySpec("q265_catalog_table",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_cat265_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
        orders.filter(pmod(col("o_orderkey"), lit(2L)) === 0L)
          .write.format("graft").save(root)
        s.sql("DROP TABLE IF EXISTS graft_q265")
        s.sql(s"CREATE TABLE graft_q265 USING graft LOCATION '$root'")
        orders.createOrReplaceTempView("graft_q265_orders")
        s.sql("INSERT INTO graft_q265 " +
          "SELECT o_orderkey, cents FROM graft_q265_orders " +
          "WHERE o_orderkey % 2 = 1")
        s.sql("UPDATE graft_q265 SET cents = cents + 7 " +
          "WHERE o_orderkey % 11 = 0")
        // a FRESH session addresses the table by NAME: reads, time
        // travel, DML history all resolve through the shared catalog
        val s2 = s.newSession()
        val v1 = s2.sql(
          "SELECT count(*) FROM graft_q265 VERSION AS OF 1")
          .head.getLong(0)
        s2.sql("SELECT CAST(count(*) AS BIGINT) AS n_live, " +
            "CAST(sum(cents) AS BIGINT) AS cents_live " +
            "FROM graft_q265")
          .crossJoin(s2.createDataFrame(Seq(Tuple1(v1))).toDF("n_v1"))
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey AS k,
                 ${Exact.centsSql("o_totalprice")} AS cents
          FROM orders),
        live AS (
          SELECT k, cents + CASE WHEN k % 11 = 0 THEN 7 ELSE 0 END
                   AS cents
          FROM base)
        SELECT CAST(count(*) AS BIGINT) AS n_live,
               CAST(sum(cents) AS BIGINT) AS cents_live,
               (SELECT CAST(count(*) AS BIGINT) FROM base
                WHERE k % 2 = 0) AS n_v1
        FROM live""")),

    // ------------------------------------------------------------------
    // FULL SQL MERGE GRAMMAR (round 14): conditional matched
    // update/delete, NOT MATCHED BY SOURCE, and an INSERT column list
    // in ONE statement — the reference's keep-newest URL upsert
    // (linkgraph/store/cdb/cdb.go:16-22) is exactly the conditional
    // matched action here (update only when the source revision is
    // newer). The oracle replays the clause algebra as CASE/filter
    // SQL; a require pins one version for the whole statement.
    QuerySpec("q266_merge_full",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_mf266_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"),
            Exact.cents(col("o_totalprice")).as("cents"))
        // nullable rev (the column-list insert leaves it null)
        val target = orders.filter(pmod(col("k"), lit(2L)) === 0L)
          .withColumn("rev",
            when(col("k") >= 0L, pmod(col("k"), lit(4L))))
        target.write.format("graft").save(root)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_q266_t " +
          s"USING graft OPTIONS (path '$root')")
        orders.filter(pmod(col("k"), lit(3L)) === 0L)
          .select(col("k"), (col("cents") + 5L).as("cents"),
            lit(2L).as("rev"))
          .createOrReplaceTempView("graft_q266_s")
        val before = graft.store.Versioned.latestVersion(root)
        s.sql("MERGE INTO graft_q266_t t USING graft_q266_s s " +
          "ON t.k = s.k " +
          "WHEN MATCHED AND s.rev > t.rev THEN UPDATE SET * " +
          "WHEN MATCHED THEN DELETE " +
          "WHEN NOT MATCHED THEN INSERT (k, cents) " +
          "VALUES (s.k, s.cents) " +
          "WHEN NOT MATCHED BY SOURCE AND t.k % 5 = 0 " +
          "THEN UPDATE SET cents = t.cents + 1")
        require(graft.store.Versioned.latestVersion(root) == before + 1,
          "the whole MERGE must publish exactly one version")
        graft.store.Versioned.read(s, root)
          .agg(count(lit(1)).as("n_live"),
            sum(col("cents")).as("cents_live"),
            sum(when(col("rev").isNull, 1L).otherwise(0L))
              .as("n_inserted"),
            sum(col("rev")).as("rev_sum"))
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey AS k,
                 ${Exact.centsSql("o_totalprice")} AS cents
          FROM orders),
        t AS (SELECT k, cents, k % 4 AS rev FROM base WHERE k % 2 = 0),
        live AS (
          SELECT k, cents + 5 AS cents, 2 AS rev FROM t
          WHERE k % 3 = 0 AND rev < 2
          UNION ALL
          SELECT k,
                 cents + CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS cents,
                 rev
          FROM t WHERE k % 3 <> 0
          UNION ALL
          SELECT k, cents + 5 AS cents, NULL AS rev
          FROM base WHERE k % 3 = 0 AND k % 2 = 1)
        SELECT CAST(count(*) AS BIGINT) AS n_live,
               CAST(sum(cents) AS BIGINT) AS cents_live,
               CAST(sum(CASE WHEN rev IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_inserted,
               CAST(sum(rev) AS BIGINT) AS rev_sum
        FROM live""")),

    // ------------------------------------------------------------------
    // SQL GOVERNANCE VERBS (round 14): constraint lifecycle, commit
    // audit and compaction driven ENTIRELY in SQL — ALTER TABLE ADD
    // CONSTRAINT enforces on the very next INSERT (refused batches
    // leave no version and no stray files), DESCRIBE HISTORY reads the
    // audit, OPTIMIZE packs the small appends. The requires pin the
    // refusal, the version ledger and the file-count drop; the rollup
    // hash-matches DuckDB over the surviving contents.
    QuerySpec("q267_sql_governance",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_gov267_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
        (0 until 4).foreach { i =>
          orders.filter(pmod(col("o_orderkey"), lit(8L)) === i.toLong)
            .coalesce(1)
            .write.format("graft").mode("append").save(root)
        }
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_q267 " +
          s"USING graft OPTIONS (path '$root')")
        val hist = s.sql("DESCRIBE HISTORY graft_q267").collect()
        require(hist.length == 4 &&
          hist.forall(_.getString(2) == "append"),
          "history must audit the four appends")
        s.sql("ALTER TABLE graft_q267 ADD CONSTRAINT cents_pos " +
          "CHECK (cents >= 0)")
        val threw =
          try { s.sql("INSERT INTO graft_q267 VALUES (1, -5)"); false }
          catch { case _: Throwable => true }
        require(threw && graft.store.Versioned.latestVersion(root) == 4L,
          "a violating INSERT must be refused without a version")
        orders.filter(pmod(col("o_orderkey"), lit(8L)) >= 4L)
          .createOrReplaceTempView("graft_q267_rest")
        s.sql("INSERT INTO graft_q267 SELECT * FROM graft_q267_rest")
        val filesBefore = graft.store.Versioned.files(root).size
        s.sql("OPTIMIZE graft_q267")
        require(graft.store.Versioned.files(root).size < filesBefore,
          "OPTIMIZE must pack the small appends")
        val ops = s.sql("DESCRIBE HISTORY graft_q267")
          .collect().map(_.getString(2)).toSet
        require(Set("append", "compact").subsetOf(ops),
          s"audit ops must include append+compact, got $ops")
        graft.store.Versioned.read(s, root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).as("cents_sum"))
      },
      Some(s"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS cents_sum
        FROM orders""")),

    // ------------------------------------------------------------------
    // EMPTY-STATE LIFECYCLE (round 14): delete-everything is a LEGAL
    // committed state — the schema of record serves a typed empty
    // frame (count 0, full schema) through both the facade and the
    // format — and the table is immediately writable again. The
    // oracle replays the rebirth contents.
    // ------------------------------------------------------------------
    // CONVERT TO GRAFT (round 14, Delta's CONVERT TO DELTA role):
    // adopt an EXISTING plain-parquet directory as version 1 BY
    // REFERENCE — zero bytes rewritten (the require pins that the
    // adopted file survives in the manifest verbatim), after which the
    // full surface applies: SQL DML, history, time travel. At 100 TB
    // this is the adoption path: a metadata commit, not a copy.
    QuerySpec("q269_convert_parquet",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_conv269_q")
        val conf = s.sparkContext.hadoopConfiguration
        val src = new org.apache.hadoop.fs.Path(dir, "orders.parquet")
        val dst = new org.apache.hadoop.fs.Path(root, "orders.parquet")
        val fs = dst.getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
          fs, dst, false, conf)
        val v = s.sql(s"CONVERT TO GRAFT '$root'").head.getLong(0)
        require(v == 1L, "convert must publish version 1")
        require(graft.store.Versioned.files(root, 1L)
          .exists(_.endsWith("orders.parquet")),
          "the adopted file must be listed by reference")
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_q269 " +
          s"USING graft OPTIONS (path '$root')")
        s.sql("DELETE FROM graft_q269 WHERE o_orderkey % 3 = 0")
        s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n_v1 " +
            "FROM graft_q269 VERSION AS OF 1")
          .crossJoin(s.sql(
            "SELECT CAST(count(*) AS BIGINT) AS n_live, " +
              "CAST(sum(" + Exact.centsSql("o_totalprice") + ") " +
              "AS BIGINT) AS cents_live FROM graft_q269"))
      },
      Some(s"""
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_v1,
               CAST(count(*) AS BIGINT) AS n_live,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS cents_live
        FROM orders WHERE o_orderkey % 3 <> 0""")),

    // ------------------------------------------------------------------
    // CDF ACROSS SQL DML via the table property (round 14, Delta's
    // delta.enableChangeDataFeed): ALTER TABLE ... SET TBLPROPERTIES
    // ('graft.enableChangeDataFeed'='true') makes EVERY later rewrite
    // commit stage exact change records — so UPDATE / DELETE /
    // conditional MERGE issued as plain SQL keep the change feed
    // derivable for downstream consumers without each statement
    // opting in. The oracle replays the statement algebra into the
    // feed's delete/insert records.
    QuerySpec("q270_cdf_sql_dml",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_cdf270_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"),
            Exact.cents(col("o_totalprice")).as("cents"))
        orders.filter(pmod(col("k"), lit(2L)) === 0L)
          .write.format("graft").save(root)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_q270 " +
          s"USING graft OPTIONS (path '$root')")
        s.sql("ALTER TABLE graft_q270 SET TBLPROPERTIES " +
          "('graft.enableChangeDataFeed' = 'true')")
        require(graft.store.Versioned.cdfEnabled(root),
          "the property must round-trip")
        s.sql("UPDATE graft_q270 SET cents = cents + 100 " +
          "WHERE k % 10 = 0")
        s.sql("DELETE FROM graft_q270 WHERE k % 14 = 0")
        orders.filter(pmod(col("k"), lit(6L)) === 0L)
          .select(col("k"), lit(777L).as("cents"))
          .createOrReplaceTempView("graft_q270_src")
        s.sql("MERGE INTO graft_q270 t USING graft_q270_src s " +
          "ON t.k = s.k " +
          "WHEN MATCHED AND s.cents > t.cents THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
        val feed = graft.store.Versioned.readChangeFeed(s, root, 1L)
        feed.agg(
          sum(when(col("_change_type") === "delete", 1L).otherwise(0L))
            .as("n_del"),
          sum(when(col("_change_type") === "insert", 1L).otherwise(0L))
            .as("n_ins"),
          sum(when(col("_change_type") === "delete", col("cents")))
            .as("cents_del"),
          sum(when(col("_change_type") === "insert", col("cents")))
            .as("cents_ins"))
      },
      Some(s"""
        WITH base AS (
          SELECT o_orderkey AS k,
                 ${Exact.centsSql("o_totalprice")} AS cents
          FROM orders),
        t0 AS (SELECT k, cents FROM base WHERE k % 2 = 0),
        upd AS (SELECT k, cents AS old, cents + 100 AS new
                FROM t0 WHERE k % 10 = 0),
        a1 AS (SELECT k, cents +
                 CASE WHEN k % 10 = 0 THEN 100 ELSE 0 END AS cents
               FROM t0),
        del AS (SELECT k, cents FROM a1 WHERE k % 14 = 0),
        a2 AS (SELECT * FROM a1 WHERE k % 14 <> 0),
        fired AS (SELECT k, cents FROM a2
                  WHERE k % 6 = 0 AND 777 > cents),
        mins AS (SELECT k FROM base
                 WHERE k % 6 = 0 AND k % 42 = 0)
        SELECT
          CAST((SELECT count(*) FROM upd) + (SELECT count(*) FROM del)
            + (SELECT count(*) FROM fired) AS BIGINT) AS n_del,
          CAST((SELECT count(*) FROM upd)
            + (SELECT count(*) FROM fired)
            + (SELECT count(*) FROM mins) AS BIGINT) AS n_ins,
          CAST((SELECT sum(old) FROM upd)
            + COALESCE((SELECT sum(cents) FROM del), 0)
            + COALESCE((SELECT sum(cents) FROM fired), 0) AS BIGINT)
            AS cents_del,
          CAST((SELECT sum(new) FROM upd)
            + 777 * ((SELECT count(*) FROM fired)
              + (SELECT count(*) FROM mins)) AS BIGINT) AS cents_ins""")),

    QuerySpec("q268_empty_rebirth",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_empty268_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            Exact.cents(col("o_totalprice")).as("cents"))
        orders.filter(pmod(col("o_orderkey"), lit(2L)) === 1L)
          .write.format("graft").save(root)
        graft.store.Versioned.commitDelete(s, root, lit(true))
        val empty = s.read.format("graft").load(root)
        require(empty.count() == 0L &&
          empty.schema.fieldNames.toSeq == Seq("o_orderkey", "cents"),
          "the emptied table must read as a TYPED empty frame")
        require(graft.store.Versioned.read(s, root).count() == 0L)
        orders.write.format("graft").mode("append").save(root)
        s.read.format("graft").load(root)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).as("cents_sum"))
      },
      Some(s"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(${Exact.centsSql("o_totalprice")}) AS BIGINT)
                 AS cents_sum
        FROM orders""")),

    // ------------------------------------------------------------------
    // SCHEMA DDL AS METADATA (round 14, Delta column mapping 'name'
    // mode): ALTER TABLE RENAME COLUMN / ADD COLUMNS / DROP COLUMN
    // rewrite ZERO data files — files keep their physical names, a
    // versioned schemaddl state maps them to the declared names, and
    // reads/DML/stats-probes translate at the facade. The in-query
    // requires pin the metadata-only property (identical file list
    // across the rename) and the staleness rules; the oracle replays
    // the whole statement algebra over orders in DuckDB.
    QuerySpec("q271_schema_ddl",
      (s, dir) => {
        val root = graft.util.TempDirs.scratch("graft_ddl271_q")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"),
            Exact.cents(col("o_totalprice")).as("cents"),
            col("o_custkey").as("cust"))
        orders.filter(pmod(col("k"), lit(2L)) === 0L)
          .write.format("graft").save(root)
        val filesBefore = graft.store.Versioned.files(root).toSet
        // rename is pure metadata: same files, new logical name
        s.sql(s"ALTER TABLE '$root' RENAME COLUMN cents TO amount")
        require(graft.store.Versioned.files(root).toSet == filesBefore,
          "RENAME COLUMN must not rewrite a single data file")
        s.sql(s"ALTER TABLE '$root' ADD COLUMNS (tier STRING)")
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_q271 " +
          s"USING graft OPTIONS (path '$root')")
        // DML in the declared names: conditional tier stamp, delete,
        // then an insert carrying the new column
        s.sql("UPDATE graft_q271 SET tier = 'big' " +
          "WHERE amount >= 15000000")
        s.sql("DELETE FROM graft_q271 WHERE k % 21 = 0")
        s.sql("INSERT INTO graft_q271 " +
          "SELECT k + 1000000000, amount, cust, 'new' " +
          "FROM graft_q271 WHERE k % 100 = 0")
        // drop a column; the view re-creates to see the narrower set
        s.sql(s"ALTER TABLE '$root' DROP COLUMN cust")
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_q271 " +
          s"USING graft OPTIONS (path '$root')")
        val live = s.table("graft_q271")
        require(live.columns.toSeq == Seq("k", "amount", "tier"),
          s"post-DDL columns: ${live.columns.toSeq}")
        // time travel to version 1 still shows the ORIGINAL names
        require(graft.store.Versioned.read(s, root, 1L)
          .columns.toSeq == Seq("k", "cents", "cust"),
          "pre-DDL versions keep their original schema")
        live.agg(
          count(lit(1)).as("n_live"),
          sum(col("amount")).as("amount_sum"),
          sum(when(col("tier") === "big", 1L).otherwise(0L))
            .as("n_big"),
          sum(when(col("tier") === "new", 1L).otherwise(0L))
            .as("n_new"))
      },
      Some(s"""
        WITH t0 AS (
          SELECT o_orderkey AS k,
                 ${Exact.centsSql("o_totalprice")} AS amount
          FROM orders WHERE o_orderkey % 2 = 0),
        a1 AS (SELECT k, amount,
                 CASE WHEN amount >= 15000000 THEN 'big' END AS tier
               FROM t0),
        a2 AS (SELECT * FROM a1 WHERE k % 21 <> 0),
        ins AS (SELECT k + 1000000000 AS k, amount, 'new' AS tier
                FROM a2 WHERE k % 100 = 0),
        fin AS (SELECT k, amount, tier FROM a2
                UNION ALL SELECT k, amount, tier FROM ins)
        SELECT CAST(count(*) AS BIGINT) AS n_live,
               CAST(sum(amount) AS BIGINT) AS amount_sum,
               CAST(sum(CASE WHEN tier = 'big' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_big,
               CAST(sum(CASE WHEN tier = 'new' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_new
        FROM fin"""))
  )
}
