package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import graft.util.Ckpt
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Deterministic streaming sketches (the "novel sketch" slot of the
  * brief's custom-operator ladder).
  *
  * Both sketches here are chosen for a property most approximate
  * structures lack: given the same hash function they are EXACTLY
  * reproducible across engines — no RNG, no insertion-order dependence —
  * so their answers can be hash-compared against a DuckDB oracle like
  * any exact query (q45/q47), instead of settling for rows-only checks.
  *
  *  - KMV (k-minimum values) distinct-count estimator
  *    [Bar-Yossef et al. 2002, "Counting distinct elements in a data
  *    stream"]: keep the k smallest distinct hash values; if the k-th
  *    smallest normalized hash is R, the estimate is (k-1)/R. Standard
  *    error ~ 1/sqrt(k).
  *  - Count-Min frequency sketch [Cormode & Muthukrishnan 2005]: d
  *    hash rows x w counters; an item's estimate is the MIN of its d
  *    cells. Counters are additive, so the sketch is insertion-order
  *    and partition-merge independent.
  *
  * At 100 TB both are one bounded pass: KMV carries at most k longs per
  * partition to one tiny final merge; Count-Min's partial aggregation
  * compresses each partition to at most d*w cells before the (d*w)-row
  * shuffle. Neither ever materializes the distinct key set — that is
  * the entire point vs `COUNT(DISTINCT ...)`, whose shuffle at 100 TB
  * is proportional to the key cardinality.
  */
object Sketches {

  /** The k smallest DISTINCT 60-bit portable hashes of `value`, as a
    * single-column ("h") DataFrame of at most k rows.
    *
    * Per-partition pass keeps a bounded TreeSet of k candidates (genuine
    * per-partition imperative logic — the documented `mapPartitions`
    * exception); the global merge then sees at most partitions*k rows,
    * so the only shuffle is over a driver-bounded candidate set.
    */
  def kSmallestHashes(df: DataFrame, value: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = df.select(Dedup.portableHash(value).as("h")).as[Long]
    val perPartition = hashed.mapPartitions { it =>
      val top = new java.util.TreeSet[java.lang.Long]()
      it.foreach { h =>
        if (top.size < k) top.add(h)
        // evict ONLY when h actually entered: add() returns false for a
        // duplicate value, and evicting then would drop a true member
        else if (h < top.last && top.add(h)) top.pollLast()
      }
      import scala.jdk.CollectionConverters._
      top.iterator().asScala.map(_.longValue())
    }
    perPartition.toDF("h").distinct().orderBy("h").limit(k)
  }

  /** KMV distinct-count estimate of `value` over `df`: one row
    * (k_used, kth_h, est_distinct). When fewer than k distinct hashes
    * exist the sketch IS the distinct set and the answer is exact.
    *
    * The estimate arithmetic ((k-1) * 2^60 / kth_h, floored) is pure
    * IEEE-754 double ops on identical operands in any engine: 1023*2^60
    * is exactly representable (10-bit mantissa, exponent 60) and the
    * int64->double cast of kth_h rounds identically, so the result is
    * bit-reproducible — see oracleSql for the DuckDB twin.
    */
  def kmvDistinct(df: DataFrame, value: Column, k: Int): DataFrame =
    kSmallestHashes(df, value, k)
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("kth_h"))
      .select(
        col("k_used"),
        col("kth_h"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(floor(lit((k - 1).toDouble) * lit(math.pow(2, 60)) /
            col("kth_h").cast("double")).cast("long"))
          .as("est_distinct"))

  /** KMV set resemblance (Beyer et al. 2007, "On synopses for
    * distinct-value estimation under multiset operations"): estimate
    * the Jaccard similarity of two SETS from their k-minimum-value
    * sketches alone — corpus-drift / release-overlap detection without
    * ever joining the corpora. K = the k smallest of kmin(A) ∪ kmin(B)
    * is a uniform sample of A ∪ B, and any member of K that belongs to
    * A (resp. B) provably appears in kmin(A) (kmin(B)) — fewer than k
    * set members hash below it — so membership tests against the two
    * k-row sketches are EXACT and J ≈ |K ∩ kmin(A) ∩ kmin(B)| / |K|.
    * RNG-free like the rest of the suite: the whole computation is
    * hash-deterministic, so it oracle-checks (q96). */
  def kmvJaccard(a: DataFrame, b: DataFrame, value: Column,
                 k: Int): DataFrame = {
    val ka = Ckpt.store(kSmallestHashes(a, value, k))
    val kb = Ckpt.store(kSmallestHashes(b, value, k))
    val ku = ka.unionAll(kb).distinct().orderBy("h").limit(k)
      .transform(Ckpt.store(_))
    val matches = ku.join(ka, Seq("h"), "left_semi")
      .join(kb, Seq("h"), "left_semi")
    ku.agg(count(lit(1)).as("k_used"))
      .crossJoin(matches.agg(count(lit(1)).as("matches")))
      .select(col("k_used"), col("matches"),
        graft.util.Exact.micros(
          col("matches").cast("double") / col("k_used").cast("double"))
          .as("jaccard_micros"))
  }

  /** KMV sketch SET ALGEBRA (Beyer et al. 2007 §4, multiset
    * operations): distinct-count estimates for A ∪ B and A ∩ B from
    * the two k-row sketches alone — |A∪B| via the KMV estimator on
    * the merged sketch (the k smallest of kmin(A) ∪ kmin(B) IS
    * kmin(A∪B)), and |A∩B| ≈ Ĵ · |A∪B| with Ĵ the [[kmvJaccard]]
    * resemblance whose membership tests are provably exact. The
    * corpora never meet: after the two bounded sketch builds, every
    * operand is ≤ k rows. Same RNG-free determinism as the rest of
    * the suite — the float tail (one divide for Ĵ, one multiply, the
    * estimator's divide) is fixed-parenthesization IEEE, so the
    * result oracle-checks (q115). */
  def kmvSetOps(a: DataFrame, b: DataFrame, value: Column,
                k: Int): DataFrame = {
    val ka = Ckpt.store(kSmallestHashes(a, value, k))
    val kb = Ckpt.store(kSmallestHashes(b, value, k))
    val ku = ka.unionAll(kb).distinct().orderBy("h").limit(k)
      .transform(Ckpt.store(_))
    val matches = ku.join(ka, Seq("h"), "left_semi")
      .join(kb, Seq("h"), "left_semi")
    ku.agg(count(lit(1)).as("k_used"), max(col("h")).as("kth_h"))
      .crossJoin(matches.agg(count(lit(1)).as("matches")))
      .select(col("k_used"), col("matches"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(floor(lit((k - 1).toDouble) * lit(math.pow(2, 60)) /
            col("kth_h").cast("double")).cast("long"))
          .as("est_union"))
      .withColumn("est_inter_micros", graft.util.Exact.micros(
        col("matches").cast("double") / col("k_used").cast("double") *
          col("est_union").cast("double")))
  }

  /** Count-Min sketch of `value` frequencies: the (i, cell, cnt) counter
    * table for d hash rows x w columns. Row i's hash of x is the
    * portable 60-bit hash of "i|x" mod w — deterministic and
    * engine-portable. One explode(d) + one hash-agg; partial (map-side)
    * aggregation bounds the shuffle at d*w rows per partition.
    */
  def countMinTable(df: DataFrame, value: Column, d: Int, w: Int): DataFrame = {
    require(d > 0 && w > 0, s"d/w must be positive, got d=$d w=$w")
    val cells = array((0 until d).map { i =>
      struct(lit(i).as("i"),
        pmod(Dedup.portableHash(concat_ws("|", lit(i.toString), value)),
          lit(w.toLong)).as("cell"))
    }: _*)
    df.select(explode(cells).as("ic"))
      .select(col("ic.i").as("i"), col("ic.cell").as("cell"))
      .groupBy("i", "cell")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Frequency estimates for `probes` from a Count-Min sketch of
    * `value`: one row per probe term, (term, est_cnt). est_cnt >= the
    * true count always (counters only over-count on collisions), and
    * the overestimate is bounded by 2N/w with probability 1 - 2^-d.
    *
    * The sketch is bounded at d*w rows by construction, so it is always
    * the broadcast side — probing never shuffles anything.
    */
  def countMinEstimate(df: DataFrame, value: Column,
                       probes: Seq[String], d: Int, w: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sketch = countMinTable(df, value, d, w)
    val probeCells = probes.toDF("term")
      .select(col("term"), explode(array((0 until d).map { i =>
        struct(lit(i).as("i"),
          pmod(Dedup.portableHash(
            concat_ws("|", lit(i.toString), col("term"))),
            lit(w.toLong)).as("cell"))
      }: _*)).as("ic"))
      .select(col("term"), col("ic.i").as("i"), col("ic.cell").as("cell"))
    // Missing cells are true zero counts (no collision ever landed there).
    probeCells.join(broadcast(sketch), Seq("i", "cell"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy("term")
      .agg(min(col("cnt")).as("est_cnt"))
  }

  /** EXACT heavy hitters with a Count-Min candidate prune (the batch
    * form of the sketch-then-verify pattern, Cormode & Muthukrishnan
    * 2005 §4): values occurring >= minCount times, with their exact
    * counts, found WITHOUT ever shuffling the full term-count table.
    *
    *  1. one scan builds the d*w Count-Min sketch (broadcast);
    *  2. terms are probed against the broadcast sketch IN the scan
    *     stage and filtered to est >= minCount BEFORE the distinct —
    *     the only exchange carries plausible-heavy terms, not the
    *     vocabulary. CM never underestimates, so the candidate set
    *     provably contains every true heavy hitter (no false
    *     negatives);
    *  3. one more scan counts ONLY the candidates exactly (broadcast
    *     semi-join + map-side-combinable agg whose key set is the
    *     candidate list), discarding the sketch's false positives.
    *
    * Result = exactly `HAVING count(*) >= minCount`, at a shuffle cost
    * of O(candidates) instead of O(vocabulary) — the hot-token / hot-URL
    * primitive at corpus scale. */
  def heavyHitters(df: DataFrame, value: Column, minCount: Long,
                   d: Int = 4, w: Int = 8192): DataFrame = {
    require(minCount > 0, s"minCount must be positive, got $minCount")
    // widen: the d hash probes + est-filter are scan-stage per-row CPU
    // and a tiny single-row-group source plans 1-3 scan tasks (q94
    // burned 6.3 s at 3-way parallelism on 32 cores); identity at
    // production scan widths, so the documented "the only term-keyed
    // exchange carries pruned candidates" shape is unchanged at scale
    val vals = graft.util.Par.widen(df.select(value.as("term")))
    val sketch = countMinTable(vals, col("term"), d, w)
      .transform(Ckpt.store(_)) // d consumers below; build the scan once
    // Row-preserving scan-stage probe: one broadcast join per hash row
    // (d tiny joins, never an explode or a term-keyed shuffle), then
    // est = least of the d cells. Rows keep their identity, so the
    // est-filter happens BEFORE any exchange.
    val probed = (0 until d).foldLeft(vals) { (acc, i) =>
      val si = sketch.filter(col("i") === i)
        .select(col("cell").as(s"__c$i"), col("cnt").as(s"__n$i"))
      acc.join(broadcast(si),
        pmod(Dedup.portableHash(
          concat_ws("|", lit(i.toString), col("term"))),
          lit(w.toLong)) === col(s"__c$i"), "left")
    }
    val est = least((0 until d).map(i =>
      coalesce(col(s"__n$i"), lit(0L))): _*)
    val cand = probed.filter(est >= minCount).select("term").distinct()
    vals.join(broadcast(cand), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** DDSketch bucket table [Masson, Rim & Lee 2019, "DDSketch: a fast
    * and fully-mergeable quantile sketch with relative-error
    * guarantees"]: positive values land in bucket
    * ceil(log_gamma(x)) with gamma = (1+alpha)/(1-alpha), so every
    * bucket spans a (1±alpha) relative range and any quantile read
    * back from bucket midpoints is within alpha relative error.
    *
    * Engine portability: the only float steps before the hash-agg are
    * ln(x)/ln(gamma), which is micros-SNAPPED before the ceil — a value
    * would have to sit within 5e-7 (in log space) of a bucket edge AND
    * land there differently under the two engines' ln for assignment to
    * diverge; the snap makes the boundary rule itself deterministic.
    * The table is bounded at O(log_gamma(max/min)) rows (~600 buckets
    * for cents-to-100k at alpha=0.01) regardless of input size, counts
    * are additive — mergeable, partition-invariant, broadcastable. */
  def ddSketchTable(df: DataFrame, value: Column, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val gamma = (1.0 + alpha) / (1.0 - alpha)
    val snapped = graft.util.Exact.micros(log(value) / lit(math.log(gamma)))
    df.filter(value > 0)
      .select(ceil(snapped.cast("double") / lit(1000000.0)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates from a DDSketch: one row per requested
    * percentile, (q_pct, bucket, est_micros) with est the bucket
    * midpoint 2*gamma^b/(gamma+1). The rank walk (cumulative sum +
    * first bucket reaching rank floor(q/100*(n-1))+1) runs on the
    * bounded bucket table — the partition-less window is over O(100)
    * rows by construction, never data-scale. */
  def ddQuantiles(df: DataFrame, value: Column, alpha: Double,
                  pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100))
    val spark = df.sparkSession
    import spark.implicits._
    val gamma = (1.0 + alpha) / (1.0 - alpha)
    val sketch = ddSketchTable(df, value, alpha)
    val cum = sketch.withColumn("cum",
      sum("cnt").over(org.apache.spark.sql.expressions.Window
        .orderBy("bucket")))
    val total = sketch.agg(sum("cnt").as("n"))
    pcts.toDF("q_pct")
      .crossJoin(cum).crossJoin(total)
      .filter(col("cum") >=
        floor(col("q_pct") / lit(100.0) *
          (col("n").cast("double") - lit(1.0))) + 1)
      .groupBy("q_pct").agg(min("bucket").as("bucket"))
      .select(col("q_pct"), col("bucket"),
        graft.util.Exact.micros(
          lit(2.0) * pow(lit(gamma), col("bucket")) / lit(gamma + 1.0))
          .as("est_micros"))
      .orderBy("q_pct")
  }

  /** GROUPED DDSketch quantiles — the per-key deployment shape (per
    * language, per domain, per source …): bucket counts keyed by
    * (group, bucket), rank walk per group under a PARTITIONED window
    * (each partition is that group's O(log range) bucket list, never
    * data-scale). One scan however many groups; contrast an exact
    * per-group percentile whose sort buffer grows with the group's
    * value multiset. Same engine-portable bucket rule as
    * [[ddSketchTable]]. */
  def ddQuantilesGrouped(df: DataFrame, keys: Seq[String], value: Column,
                         alpha: Double, pcts: Seq[Int]): DataFrame = {
    require(keys.nonEmpty, "need at least one grouping key")
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100))
    val spark = df.sparkSession
    import spark.implicits._
    val gamma = (1.0 + alpha) / (1.0 - alpha)
    val snapped = graft.util.Exact.micros(log(value) / lit(math.log(gamma)))
    val sketch = df.filter(value > 0)
      .select(keys.map(col) :+
        ceil(snapped.cast("double") / lit(1000000.0)).as("bucket"): _*)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .transform(Ckpt.store(_)) // feeds the walk and the per-group totals
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy("bucket")
    val cum = sketch.withColumn("cum", sum("cnt").over(w))
    val totals = sketch.groupBy(keys.map(col): _*).agg(sum("cnt").as("n"))
    cum.join(totals, keys)
      .crossJoin(pcts.toDF("q_pct"))
      .filter(col("cum") >=
        floor(col("q_pct") / lit(100.0) *
          (col("n").cast("double") - lit(1.0))) + 1)
      .groupBy((keys :+ "q_pct").map(col): _*)
      .agg(min("bucket").as("bucket"))
      .select(keys.map(col) ++ Seq(col("q_pct"), col("bucket"),
        graft.util.Exact.micros(
          lit(2.0) * pow(lit(gamma), col("bucket")) / lit(gamma + 1.0))
          .as("est_micros")): _*)
  }

  /** HyperLogLog register table [Flajolet et al. 2007]: 2^p registers,
    * register j = max over values hashing to j of rho(w) = 1 + the
    * number of leading zeros in the value's remaining 60-p hash bits.
    * EVERY register id is present (absent → rho 0), so downstream
    * arithmetic never multiplies by a separate zero-register count.
    *
    * rho is computed from the hash's BIT LENGTH via `bin()` — exact
    * integer string length, not a float log2, so register contents are
    * engine-portable (DuckDB's bin() is the same no-leading-zeros form).
    * The m-row register union is the only state: one hash-agg keyed by
    * 2^p values, map-side combinable — duplicates and partitioning
    * cannot change a max.
    */
  /** Per-row (idx, rho) register observations — the pre-aggregation
    * form, exposed so a streaming max-aggregation can consume it. */
  private[graft] def hllObservations(df: DataFrame, value: Column,
                                     p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1L << p
    val bits = 60 - p // hash bits left after the register index
    val h = Dedup.portableHash(value)
    val w = shiftrightunsigned(h, p)
    df.select(
      pmod(h, lit(m)).as("idx"),
      when(w === 0, lit(bits + 1))
        .otherwise(lit(bits + 1) - length(bin(w))).as("rho"))
  }

  def hllRegisters(df: DataFrame, value: Column, p: Int): DataFrame = {
    val m = 1L << p
    val regs = hllObservations(df, value, p)
    val allIdx = df.sparkSession.range(m)
      .select(col("id").as("idx"), lit(0).as("rho"))
    regs.unionByName(allIdx).groupBy("idx").agg(max("rho").as("m_rho"))
  }

  /** HyperLogLog distinct-count estimate: one row
    * (nonzero_regs, zero_regs, est_micros).
    *
    * The harmonic mean is computed EXACTLY: each register contributes
    * 2^(62 - M_j) — a power of two, exact in double and exact after the
    * cast to DECIMAL(38,0) — and the decimal SUM is integer arithmetic,
    * so it is insertion-order and partition independent (the usual
    * float-sum nondeterminism never arises; 1024 * 2^62 = 2^72 is well
    * inside 38 digits). Only then does ONE double division produce the
    * raw estimate alpha_m * m^2 * 2^62 / S, micros-snapped — the same
    * two IEEE ops in any engine. Small-range correction (linear
    * counting m * ln(m / zero_regs) when raw <= 2.5m and a register is
    * empty) is the published estimator, same fixed parenthesization on
    * both sides.
    *
    * At 100 TB: the sketch IS the m-row register table — the value set
    * never shuffles (contrast COUNT(DISTINCT), whose exchange scales
    * with key cardinality, and see [[kmvDistinct]] for the same
    * argument at k rows).
    */
  def hllDistinct(df: DataFrame, value: Column, p: Int = 10): DataFrame =
    hllEstimate(hllObservations(df, value, p), p)

  /** Finish an HLL estimate from ANY (idx, rho) observation multiset —
    * sparse, duplicated, or partially pre-maxed (register merge is max,
    * so pre-aggregated snapshots compose freely; this is what lets the
    * streaming replay's final register snapshot reuse the exact batch
    * estimator, q93). Missing registers are filled with rho 0 here. */
  def hllEstimate(observations: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1L << p
    val mD = m.toDouble
    // alpha_m * m^2, fixed parenthesization mirrored in the SQL twin.
    val alphaM2 = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(mD)) *
      lit(mD) * lit(mD)
    val allIdx = observations.sparkSession.range(m)
      .select(col("id").as("idx"), lit(0).as("rho"))
    observations.select(col("idx"), col("rho").cast("int").as("rho"))
      .unionByName(allIdx)
      .groupBy("idx").agg(max("rho").as("m_rho"))
      .agg(
        count(when(col("m_rho") > 0, lit(1))).as("nonzero_regs"),
        sum(pow(lit(2.0), lit(62) - col("m_rho")).cast("decimal(38,0)"))
          .as("s"))
      .select(
        col("nonzero_regs"),
        (lit(m) - col("nonzero_regs")).as("zero_regs"),
        (alphaM2 * pow(lit(2.0), lit(62)) / col("s").cast("double"))
          .as("raw"))
      .select(
        col("nonzero_regs"), col("zero_regs"),
        graft.util.Exact.micros(
          when(col("raw") <= lit(2.5) * lit(mD) && col("zero_regs") > 0,
            lit(mD) * log(lit(mD) / col("zero_regs").cast("double")))
            .otherwise(col("raw"))).as("est_micros"))
  }

  /** Per-group HLL distinct estimates — one sketch per key, WITHOUT
    * materializing m registers per group: a register an element hit
    * always has rho ≥ 1 (the hash is 60 bits, so the suffix's bin()
    * length never exceeds 60−p), so present-register count IS
    * nonzero_regs, and the (m − present) silent registers enter the
    * harmonic sum arithmetically as (m − present)·2^62 — exact integer
    * (DECIMAL) math, identical in the SQL twin. Same estimator tail as
    * [[hllEstimate]] (alpha_m·m²·2^62/S, linear counting on the small
    * range), applied per key.
    *
    * At 100 TB: per-group state is ≤ min(m, distinct(group)) rows and
    * both aggregations are map-side combinable — distinct-per-segment
    * dashboards over arbitrarily many segments at 8 KB a segment,
    * where COUNT(DISTINCT) per group shuffles every (group, value)
    * pair. */
  def hllDistinctGrouped(df: DataFrame, keys: Seq[String], value: Column,
                         p: Int = 10): DataFrame = {
    val keyCols = keys.map(col)
    val obs = hllObservationsKeyed(df, keyCols, value, p)
    hllEstimateGrouped(
      obs.groupBy(keyCols :+ col("idx"): _*).agg(max("rho").as("m_rho")),
      keys, p)
  }

  /** Keyed register observations (keys..., idx, rho) — the per-group
    * form of [[hllObservations]]; rho ≥ 1 for every row. */
  private[graft] def hllObservationsKeyed(df: DataFrame, keyCols: Seq[Column],
                                          value: Column, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1L << p
    val bits = 60 - p
    val h = Dedup.portableHash(value)
    val w = shiftrightunsigned(h, p)
    df.select(keyCols ++ Seq(
      pmod(h, lit(m)).as("idx"),
      when(w === 0, lit(bits + 1))
        .otherwise(lit(bits + 1) - length(bin(w))).as("rho")): _*)
  }

  /** Finish per-key estimates from PRE-MAXED register rows
    * (keys..., idx, m_rho) with m_rho ≥ 1 for every present register —
    * the silent-register arithmetic documented on
    * [[hllDistinctGrouped]]. Exposed so any operator that maintains
    * per-key registers itself (the HyperBall ball merge, a streaming
    * snapshot) can finish with the exact shared estimator. */
  def hllEstimateGrouped(regs: DataFrame, keys: Seq[String],
                         p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val m = 1L << p
    val mD = m.toDouble
    val keyCols = keys.map(col)
    val alphaM2 = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(mD)) *
      lit(mD) * lit(mD)
    val two62 = pow(lit(2.0), lit(62)).cast("decimal(38,0)")
    regs
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("nonzero_regs"),
        sum(pow(lit(2.0), lit(62) - col("m_rho")).cast("decimal(38,0)"))
          .as("sp"))
      .select(keyCols ++ Seq(
        col("nonzero_regs"),
        (lit(m) - col("nonzero_regs")).as("zero_regs"),
        (alphaM2 * pow(lit(2.0), lit(62)) /
          (col("sp") + (lit(m) - col("nonzero_regs")).cast("decimal(38,0)")
            * two62).cast("double")).as("raw")): _*)
      .select(keyCols ++ Seq(
        col("nonzero_regs"), col("zero_regs"),
        graft.util.Exact.micros(
          when(col("raw") <= lit(2.5) * lit(mD) && col("zero_regs") > 0,
            lit(mD) * log(lit(mD) / col("zero_regs").cast("double")))
            .otherwise(col("raw"))).as("est_micros")): _*)
  }
}
