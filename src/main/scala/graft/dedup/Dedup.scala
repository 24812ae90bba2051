package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.Analyzer

/** Deduplication operators for large-scale text corpora — the
  * training-data-pipeline surface built on top of the uSearch data model
  * (documents table, `textindexer/index/doc.go:10-28`).
  *
  * All hashing is engine-portable (`md5` hex prefix → 60-bit long) so
  * every operator is oracle-checkable in any SQL engine, and every shape
  * is shuffle-aware:
  *  - exact dedup: one hash-aggregation keyed by content hash;
  *  - MinHash/LSH: explode to shingles → per-(doc, hashfn) min — partial
  *    aggregation applies — band signatures, then a self-join **only
  *    within LSH buckets** (never the quadratic all-pairs);
  *  - SimHash: per-bit majority vote via explode(bits) + two hash aggs,
  *    candidate generation by 16-bit band buckets (Hamming ≤ k near-dups
  *    must collide on ≥ 1 of 4 bands when k ≤ 3·... pigeonhole over 4
  *    bands covers Hamming ≤ 3; wider radii take more/narrower bands).
  *
  * Cache contract: the near-dup entry points persist intermediate
  * frames their self-joins reference (Spark re-executes duplicated
  * plan subtrees otherwise). The cached blocks live until the session
  * drops them — batch drivers that run many pipelines should
  * `spark.catalog.clearCache()` between them (Bench does; Verify
  * clears at exit).
  */
object Dedup {

  /** 60-bit portable hash: first 15 hex digits of md5, as a long.
    * DuckDB equivalent: `CAST(('0x' || substring(md5(x),1,15)) AS BIGINT)`. */
  def portableHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Exact duplicate groups: (content_hash, cnt, doc_ids) for groups with
    * more than one member. Canonical = min doc id kept first. */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    docs.select(col(idCol), portableHash(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keep_id"))
      .filter(col("cnt") > 1)

  /** One row per (doc, shingle): distinct word n-grams. */
  def shingleTable(docs: DataFrame, n: Int, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        explode(array_distinct(Analyzer.shingles(col(textCol), n)))
          .as("shingle"))

  /** Prime modulus for the minhash permutation family; (a·h + b) mod P
    * with per-j constants is the classic universal family, and every
    * term stays well inside signed-64 range (h < P ≈ 2^31, a ≤ 2n+1). */
  private[graft] val MinHashP = 2147483647L
  private[graft] def mixA(j: Int): Long = 2L * j + 1
  private[graft] def mixB(j: Int): Long = (j * 2654435761L) % MinHashP

  /** All `numHashes` min-hashes in ONE aggregation over the shingle
    * table — each hash function is its own codegen'd `min` column, so
    * the shuffle carries each (doc, shingle) row once instead of
    * ×numHashes. The expensive portable md5 runs ONCE per shingle (a
    * projection before the agg); the per-j permutations are integer
    * (a·h + b) mod P mixes of that single hash — 12 md5s per shingle
    * was the dominant cost of the whole near-dup pipeline. Output:
    * (id, mh0 … mh{n-1}) wide. */
  private[graft] def minHashesWide(sh: DataFrame, numHashes: Int,
                                   idCol: String): DataFrame = {
    val hashed = sh.select(col(idCol),
      pmod(portableHash(col("shingle")), lit(MinHashP)).as("h"))
    val mins = (0 until numHashes).map { j =>
      min((col("h") * mixA(j) + mixB(j)) % MinHashP).as(s"mh$j")
    }
    hashed.groupBy(idCol).agg(mins.head, mins.tail: _*)
  }

  /** MinHash signatures: `numHashes` independent min-hashes per doc.
    * Output: (id, j, mh) — long format, ready for banding (a cheap
    * per-doc unpivot of the wide single-shuffle aggregation). */
  def minHashes(docs: DataFrame, shingleN: Int, numHashes: Int,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wide = minHashesWide(shingleTable(docs, shingleN, idCol, textCol),
      numHashes, idCol)
    wide.select(col(idCol), explode(array((0 until numHashes).map(j =>
        struct(lit(j).as("j"), col(s"mh$j").as("mh"))): _*)).as("s"))
      .select(col(idCol), col("s.j").as("j"), col("s.mh").as("mh"))
  }

  /** Band signatures straight off the wide minhash row: one md5 per
    * band, unpivoted to (id, band, sig) — ceil(numHashes/rowsPerBand)
    * rows per doc, no re-aggregation. Identical sig strings to
    * [[lshBands]] (minhashes joined with "," in j order; a trailing
    * partial band is kept, matching the old `j / rowsPerBand`
    * grouping). `carry` columns ride through the unpivot unchanged —
    * the streaming admission probe carries the doc's shingle array so
    * the later verify never needs a (stream-stream) join back to it. */
  private[graft] def lshBandsWide(wide: DataFrame, rowsPerBand: Int,
                                  numHashes: Int, idCol: String,
                                  carry: Seq[String] = Nil): DataFrame = {
    val nBands = (numHashes + rowsPerBand - 1) / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val sig = md5(concat_ws(",",
        (b * rowsPerBand until math.min((b + 1) * rowsPerBand, numHashes))
          .map(j => col(s"mh$j").cast("string")): _*))
      struct(lit(b).as("band"), sig.as("sig"))
    }
    wide.select(col(idCol) +: carry.map(col) :+
        explode(array(bandStructs: _*)).as("s"): _*)
      .select(col(idCol) +: carry.map(col) :+
        col("s.band").as("band") :+ col("s.sig").as("sig"): _*)
  }

  /** Per-row (aggregation-free) twin of [[minHashesWide]]: every
    * min-hash is an `array_min` over the doc's distinct-shingle array —
    * same hash family, same constants, value-identical output (DedupSpec
    * pins rowwise ≡ wide on every doc). Aggregation-free makes it
    * STREAM-SAFE: a streaming delta can band its docs statelessly — no
    * groupBy state store, no watermark — which is what
    * [[graft.streaming.Streams.nearDupAdmissionReplay]] runs in-flight.
    * Cost shape: each doc touched once, zero shuffle (the wide twin
    * instead shares its exploded shingle table with other consumers).
    * `carry` columns pass through untouched. */
  def minHashesRowwise(docs: DataFrame, shingleN: Int, numHashes: Int,
                       idCol: String = "doc_id", textCol: String = "text",
                       carry: Seq[String] = Nil): DataFrame = {
    val hs = transform(
      array_distinct(graft.text.Analyzer.shingles(col(textCol), shingleN)),
      s => pmod(portableHash(s), lit(MinHashP)))
    // hs staged as its own projection so the 60-bit hash runs once per
    // shingle, not once per (shingle, hash-function) pair
    val staged = docs.select(col(idCol) +: carry.map(col) :+
      hs.as("__hs"): _*)
    val mins = (0 until numHashes).map { j =>
      array_min(transform(col("__hs"),
        h => (h * mixA(j) + mixB(j)) % MinHashP)).as(s"mh$j")
    }
    staged.select(col(idCol) +: carry.map(col) ++: mins: _*)
  }

  /** LSH band signatures: bands of `rowsPerBand` minhashes; signature =
    * md5 of the ordered minhash list. Output: (id, band, sig). */
  def lshBands(mh: DataFrame, rowsPerBand: Int,
               idCol: String = "doc_id"): DataFrame =
    mh.withColumn("band", (col("j") / rowsPerBand).cast("int"))
      .groupBy(idCol, "band")
      .agg(md5(concat_ws(",",
        transform(sort_array(collect_list(struct(col("j"), col("mh")))),
          s => s.getField("mh").cast("string")))).as("sig"))

  /** Candidate near-duplicate pairs (a < b) that share ≥ 1 LSH bucket. */
  def lshCandidates(bands: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val l = bands.select(col("band"), col("sig"), col(idCol).as("a"))
    val r = bands.select(col("band"), col("sig"), col(idCol).as("b"))
    l.join(r, Seq("band", "sig"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Per-doc distinct shingle ARRAYS + set size as scan projections —
    * the verify-side companion of [[shingleTable]]: no explode, no
    * aggregation; sizes and pair intersections become per-row array
    * expressions (see [[jaccardByArrays]] / [[containmentPairs]]). */
  def shingleArrays(docs: DataFrame, n: Int, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val arr = array_distinct(graft.text.Analyzer.shingles(col(textCol), n))
    docs.select(col(idCol), arr.as("sharr"), size(arr).as("sz"))
  }

  /** Exact Jaccard over shingle arrays for given (a, b) pairs: the
    * candidate set is blocking-bounded, so joining the two token arrays
    * onto each pair and intersecting per-row beats re-exploding the
    * corpus and aggregating the pair×shingle expansion (measured on the
    * containment pipeline: 8.9 s → 3.4 s at sf0.1, 40.2 s → 33.4 s at
    * the 500k-doc canary). */
  def jaccardByArrays(pairs: DataFrame, docArrs: DataFrame,
                      idCol: String = "doc_id"): DataFrame =
    pairs
      .join(docArrs.select(col(idCol).as("a"), col("sharr").as("arr_a"),
        col("sz").as("sza")), Seq("a"))
      .join(docArrs.select(col(idCol).as("b"), col("sharr").as("arr_b"),
        col("sz").as("szb")), Seq("b"))
      .withColumn("inter",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double"))
      .drop("arr_a", "arr_b")

  /** Exact Jaccard similarity over shingle sets for given (a, b) pairs.
    * One shuffle keyed by shingle for the intersection, plus a broadcast
    * of per-doc set sizes. Kept for posting-table callers; pipelines
    * with access to the docs table use [[jaccardByArrays]]. */
  def jaccard(pairs: DataFrame, shingles: DataFrame,
              idCol: String = "doc_id"): DataFrame = {
    val sizes = shingles.groupBy(idCol)
      .agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(shingles.select(col(idCol).as("a"), col("shingle")), Seq("a"))
      .join(shingles.select(col(idCol).as("b"), col("shingle")),
        Seq("b", "shingle"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
    pairs.join(inter, Seq("a", "b"), "left")
      .join(sizes.select(col(idCol).as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("sz").as("szb")), Seq("b"))
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double"))
  }

  /** End-to-end MinHash near-dup detection: candidates via LSH, verified
    * with exact shingle Jaccard ≥ `threshold`. */
  def minHashNearDups(docs: DataFrame, shingleN: Int = 3,
                      numHashes: Int = 12, rowsPerBand: Int = 3,
                      threshold: Double = 0.6,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    // shingles feed both the signatures and the exact verify — cache
    // once; likewise the band table (self-joined by lshCandidates) and
    // the candidate pairs (referenced by the intersection AND the final
    // join) are persisted so the minhash aggregation over the full
    // shingle set runs exactly once, not 2-4x through the duplicated
    // plan subtrees.
    val sh = shingleTable(docs, shingleN, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = lshBandsWide(minHashesWide(sh, numHashes, idCol),
        rowsPerBand, numHashes, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = lshCandidates(bands, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    jaccardByArrays(cand, shingleArrays(docs, shingleN, idCol, textCol),
        idCol)
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Incremental MinHash near-dup — the ingest-cycle form of
    * [[minHashNearDups]]: only a DELTA batch's band signatures are
    * computed fresh and probe the existing corpus's band table (at
    * production, the STORED LSH index — per-doc minhashes are
    * doc-local, so old signatures never need recomputation), plus a
    * delta self-join for intra-batch dups. Candidate volume tracks the
    * delta, not the corpus: at 100 TB a day's ingest probes the index
    * instead of re-banding the world, the exact posture of q201's warm
    * PageRank and q205's resumed components.
    *
    * Output = verified pairs touching the delta (a < b, exact shingle
    * Jaccard ≥ `threshold`) — precisely the delta-touching subset of
    * what a full [[minHashNearDups]] over old ∪ delta returns (same
    * per-doc signatures ⇒ same buckets ⇒ same candidates restricted to
    * delta-touching pairs). Old and delta id spaces must be disjoint.
    */
  def incrementalNearDups(oldDocs: DataFrame, deltaDocs: DataFrame,
                          shingleN: Int = 3, numHashes: Int = 12,
                          rowsPerBand: Int = 3, threshold: Double = 0.6,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    def bandsOf(docs: DataFrame) = lshBandsWide(
      minHashesWide(shingleTable(docs, shingleN, idCol, textCol),
        numHashes, idCol),
      rowsPerBand, numHashes, idCol)
    // The index side is computed here only because the oracle harness
    // has no ambient store; the band table is exactly what a bucketed
    // write would persist between ingest cycles.
    val index = bandsOf(oldDocs)
    val dBands = bandsOf(deltaDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probe = dBands.select(col("band"), col("sig"), col(idCol).as("x"))
      .join(index.select(col("band"), col("sig"), col(idCol).as("y")),
        Seq("band", "sig"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
    val cand = probe.unionByName(lshCandidates(dBands, idCol))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    jaccardByArrays(cand,
        shingleArrays(oldDocs.unionByName(deltaDocs), shingleN, idCol,
          textCol), idCol)
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Versioned-store root of the tag's admission index: the caller's
    * explicit `root` when given (any scheme the store supports —
    * production indexes live next to the corpus, not on local /tmp),
    * else a local scratch root derived from the tag (the harness
    * default). */
  private def admissionRoot(tag: String, root: Option[String]): String =
    root.getOrElse(s"/tmp/graft_admission_$tag")

  /** Stage the STORED admission index THROUGH the versioned store: the
    * corpus's LSH band table and exact-verify shingle-array sidecar
    * written as bucketed layouts — `(bkey = band:sig, y)`
    * bucketed+sorted on `bkey` and `(y, arr_y, sz_y)` bucketed+sorted
    * on `y` — into ONE [[graft.store.Versioned]] staging directory and
    * published as ONE overwrite commit, so band table and sidecar flip
    * atomically and a refresh is an OBSERVABLE new version: probes pin
    * a version ([[admissionIndexAt]]), superseded index generations
    * retire via `Versioned.vacuum`, and the staleness fingerprint (the
    * source table's mtime) lives in the commit manifest via the store's
    * `FileSystem`-API metadata — no local-FS mtime marker, so the
    * discipline holds on any scheme the store itself supports. This is
    * the production handoff [[incrementalNearDups]] footnotes: between
    * ingest cycles the index LIVES as versioned tables, and an arriving
    * delta's probe join satisfies its distribution from the bucket
    * layout — the only exchange in the timed plan is the delta-sized
    * one. Returns the version-pinned (band table, sidecar table)
    * catalog names. */
  def stageAdmissionIndex(oldDocs: DataFrame, tag: String,
                          sourceMtime: Long, shingleN: Int = 3,
                          numHashes: Int = 12, rowsPerBand: Int = 3,
                          buckets: Int = 16,
                          force: Boolean = false,
                          storeRoot: Option[String] = None)
      : (String, String) = {
    val spark = oldDocs.sparkSession
    import graft.store.Versioned
    val root = admissionRoot(tag, storeRoot)
    // `force` restages unconditionally — benchmarks/canaries that
    // re-run the SAME tag over a DIFFERENT corpus need it, because the
    // fingerprint check below is a monotone staleness test against the
    // source table's identity, not a corpus-content hash: a stale store
    // stamped with an equal-or-newer fingerprint (e.g. a previous
    // forced run) reads as fresh no matter what corpus built it.
    val stale = force || Versioned.latestVersion(root) == 0L ||
      Versioned.latestTxnBatch(root, "source").forall(_ < sourceMtime)
    if (stale) {
      val stage = Versioned.newStageDir(root)
      // (band, sig) fused into ONE bucket key: Spark only co-partitions
      // a join from a bucketed layout when the bucket columns cover ALL
      // join keys (requireAllClusterKeysForCoPartition), so a composite
      // key bucketed on its sig half alone reads "Bucketed: false
      // (disabled by query planner)" and shuffles corpus-side anyway.
      // bkey equality ⟺ (band, sig) equality (':' is unambiguous).
      val bands = lshBandsWide(
          minHashesRowwise(oldDocs, shingleN, numHashes),
          rowsPerBand, numHashes, "doc_id")
        .select(concat_ws(":", col("band"), col("sig")).as("bkey"),
          col("doc_id").as("y"))
      val arrs = shingleArrays(oldDocs, shingleN)
        .select(col("doc_id").as("y"), col("sharr").as("arr_y"),
          col("sz").as("sz_y"))
      // write the bucketed layouts under throwaway catalog names (the
      // bucket spec only registers through saveAsTable), then drop the
      // entries — the files are external and about to be committed
      val wb = s"graft_adm_stage_bands_$tag"
      val wa = s"graft_adm_stage_arrs_$tag"
      graft.store.Bucketing.drop(spark, wb)
      graft.store.Bucketing.drop(spark, wa)
      graft.store.Bucketing.writeBucketed(bands, wb, s"$stage/bands",
        "bkey", buckets)
      graft.store.Bucketing.writeBucketed(arrs, wa, s"$stage/arrs",
        "y", buckets)
      graft.store.Bucketing.drop(spark, wb)
      graft.store.Bucketing.drop(spark, wa)
      Versioned.commitStagedDir(root, stage,
        txn = Some(("source", sourceMtime)))
    }
    admissionIndexAt(spark, tag, 0L, buckets, storeRoot)
  }

  /** Register this session's catalog tables over the admission index at
    * a PINNED committed version of its store (latest when 0) —
    * metadata-only. A probe against version v keeps its co-partitioned
    * bucket scans AND byte-identical candidates while a concurrent
    * re-stage publishes v+1; `Versioned.vacuum` then retires
    * superseded index generations under the store's retention. */
  def admissionIndexAt(spark: org.apache.spark.sql.SparkSession,
                       tag: String, version: Long = 0L,
                       buckets: Int = 16,
                       storeRoot: Option[String] = None)
      : (String, String) = {
    import graft.store.Versioned
    val root = admissionRoot(tag, storeRoot)
    val snap = Versioned.snapshot(root, version)
    val v = snap.version
    val fileList = snap.entries.map(snap.path(_).toString)
    def dirOf(sub: String): String = {
      val fs = fileList.filter(_.contains(s"/$sub/"))
      require(fs.nonEmpty, s"version $v at $root has no $sub layout")
      fs.head.substring(0, fs.head.lastIndexOf('/'))
    }
    val bandsT = s"graft_adm_bands_${tag}_v$v"
    val arrsT = s"graft_adm_arrs_${tag}_v$v"
    if (!spark.catalog.tableExists(bandsT))
      spark.sql(s"""CREATE TABLE $bandsT (bkey STRING, y BIGINT)
        USING parquet CLUSTERED BY (bkey) SORTED BY (bkey)
        INTO $buckets BUCKETS LOCATION '${dirOf("bands")}'""")
    if (!spark.catalog.tableExists(arrsT))
      spark.sql(s"""CREATE TABLE $arrsT (y BIGINT,
        arr_y ARRAY<STRING>, sz_y INT) USING parquet
        CLUSTERED BY (y) SORTED BY (y)
        INTO $buckets BUCKETS LOCATION '${dirOf("arrs")}'""")
    (bandsT, arrsT)
  }

  /** Probe-only admission plan against a STORED index (the timed path
    * of stored-index streaming admission): band the arriving docs
    * statelessly (rowwise minhash, zero shuffle), equi-join the band
    * table on (band, sig) — the index side reads its distribution from
    * the bucket layout, no corpus-sized exchange — and exact-verify
    * candidates per-row against the bucketed shingle sidecar. Output =
    * (a, b, jaccard ≥ threshold) pairs with a < b, exactly the
    * old×delta half of [[incrementalNearDups]]. */
  def probeAdmissionIndex(bandIndex: DataFrame, arrSidecar: DataFrame,
                          delta: DataFrame, shingleN: Int = 3,
                          numHashes: Int = 12, rowsPerBand: Int = 3,
                          threshold: Double = 0.5): DataFrame = {
    val arr = array_distinct(
      graft.text.Analyzer.shingles(col("text"), shingleN))
    val staged = delta.select(col("doc_id"), arr.as("sharr"),
      size(arr).as("sz"), col("text"))
    val bands = lshBandsWide(
      minHashesRowwise(staged, shingleN, numHashes,
        carry = Seq("sharr", "sz")),
      rowsPerBand, numHashes, "doc_id", carry = Seq("sharr", "sz"))
      .select(col("doc_id"), col("sharr"), col("sz"),
        concat_ws(":", col("band"), col("sig")).as("bkey"))
    bands
      .join(bandIndex, Seq("bkey"))
      .join(arrSidecar, Seq("y"))
      .withColumn("inter", size(array_intersect(col("sharr"),
        col("arr_y"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz") + col("sz_y") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(least(col("doc_id"), col("y")).as("a"),
        greatest(col("doc_id"), col("y")).as("b"), col("jaccard"))
  }

  /** SimHash fingerprints (60-bit): per-bit majority over token hashes
    * weighted by term frequency. Output: (id, simhash).
    *
    * All `bits` per-bit sums ride ONE aggregation as separate codegen'd
    * sum columns — no explode(bits) blow-up, so the shuffle carries the
    * (id, token) tf rows once instead of ×bits (at 100 TB that factor
    * is the difference between one pass and sixty). Integer arithmetic
    * throughout: bit-identical to the per-bit-row formulation. */
  def simHash(docs: DataFrame, bits: Int = 60, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(Analyzer.tokenize(col(textCol))).as("tok"))
      .groupBy(idCol, "tok")
      .agg(count(lit(1)).as("tf"))
      .withColumn("h", portableHash(col("tok")))
    val bitSums = (0 until bits).map { b =>
      sum(when(expr(s"shiftright(h, $b)").bitwiseAND(1) === 1,
        col("tf")).otherwise(-col("tf"))).as(s"s$b")
    }
    tf.groupBy(idCol)
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until bits).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup candidates: docs colliding on ≥1 of four 15-bit
    * bands (pigeonhole: any pair with Hamming distance ≤ 3 collides),
    * verified by exact Hamming ≤ `maxHamming`. */
  def simHashNearDups(sh: DataFrame, maxHamming: Int = 3,
                      idCol: String = "doc_id"): DataFrame = {
    // the band table is self-joined below — persist so the caller's
    // simhash pipeline (a full-corpus aggregation) runs once, not twice
    val bands = sh.select(col(idCol), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key",
        expr("shiftright(simhash, CAST(band * 15 AS INT))")
          .bitwiseAND(lit((1L << 15) - 1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = bands.select(col("band"), col("key"), col(idCol).as("a"),
      col("simhash").as("ha"))
    val r = bands.select(col("band"), col("key"), col(idCol).as("b"),
      col("simhash").as("hb"))
    l.join(r, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Winnowed document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: local algorithms for document fingerprinting" — the
    * MOSS selection rule): hash every k-token shingle, slide a window of
    * w consecutive hashes, keep each window's minimum, dedupe. Guarantees
    * any shared run of k+w-1 tokens between two documents shares at
    * least one fingerprint, while storing only ~2/(w+1) of the hashes.
    *
    * Plain `min` + DISTINCT (rather than the paper's rightmost-tie rule)
    * keeps the result a pure set — position-free, so the tie rule cannot
    * change it. The window min is computed BEFORE restricting to full
    * windows: filtering first would silently shrink the tail windows.
    * One shuffle, partitioned by document — per-doc work, no skew beyond
    * document length.
    */
  /** Benchmark decontamination: flag training documents that share at
    * least one word n-gram with an evaluation/benchmark set (the
    * standard guard against test-set leakage in a training corpus —
    * e.g. GPT-3's 13-gram and Llama's n-gram overlap checks). Returns
    * one row per contaminated training doc with the number of distinct
    * eval n-grams it contains.
    *
    * Scale: benchmark suites are MBs while corpora are TBs, so by
    * default the distinct eval-gram set is broadcast (the hint is
    * unconditional — it overrides autoBroadcastJoinThreshold) and the
    * training side streams through a broadcast hash join inside its
    * scan stage — the corpus is never shuffled. For an eval side too
    * big for driver/executor memory, pass `broadcastEval = false` to
    * let the optimizer plan a shuffled join on the gram key instead.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, n: Int = 5,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    broadcastEval: Boolean = true): DataFrame = {
    val evalGrams = shingleTable(evalSet, n, idCol, textCol)
      .select(col("shingle")).distinct()
    // shingleTable is per-doc distinct, so count(*) after the join is
    // the count of DISTINCT contaminating n-grams.
    shingleTable(train, n, idCol, textCol)
      .join(if (broadcastEval) broadcast(evalGrams) else evalGrams,
        Seq("shingle"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** EXACT set-similarity join via prefix filtering (the PPJoin family —
    * Xiao, Wang, Lin & Yu 2008, "Efficient similarity joins for near
    * duplicate detection"): ALL pairs with shingle-set Jaccard ≥
    * `threshold`, no approximation — the exact counterpart to the
    * MinHash/LSH pipeline (which trades recall for fewer candidates).
    *
    * Principle: order every doc's shingles by GLOBAL rarity (one total
    * order — ties broken by the shingle string); if J(x,y) ≥ t, the
    * first |x| − ⌈t·|x|⌉ + 1 shingles of x and the corresponding prefix
    * of y must share at least one element. So candidates are generated
    * by joining PREFIXES only — the frequent tokens that make the naive
    * shared-token join quadratic sit at the END of the order and never
    * enter a prefix. Candidates are then verified with the exact
    * Jaccard, which is also what makes the result candidate-
    * independent: any correct (no-false-negative) filter yields the
    * same output, so the driver oracle can brute-force it.
    *
    * Shape at scale: frequency table = one shingle-keyed agg (tiny,
    * vocabulary-sized per-shingle counts); per-doc ordering = one
    * doc-partitioned window; the candidate join touches only prefix
    * rows (≈ (1−t) of each doc's set); verify = [[jaccard]]'s
    * intersection agg. */
  def prefixFilterJoin(docs: DataFrame, shingleN: Int = 3,
                       threshold: Double = 0.5,
                       idCol: String = "doc_id",
                       textCol: String = "text",
                       restrictVerify: Option[Boolean] = None): DataFrame = {
    // Size gate (the Scc layout-gate pattern): the candidate-restricted
    // verify spends a checkpoint + distinct + semi-join to make the
    // shingle-array build candidate-sized instead of corpus-sized.
    // Below the gate that overhead exceeds the saving — one fused plan
    // with corpus-wide arrays wins (measured: restricted verify cost
    // +2 s at the 66k-doc sf0.1 board but −27 s at the 500k-doc
    // canary). The count is a no-column scan-agg, cheap at any scale.
    val restrict = restrictVerify.getOrElse(docs.count() > 150000L)
    if (!restrict) {
      // single-consumer candidate stage: no checkpoint needed, the
      // whole query stays one adaptive plan
      val cand = prefixCandidates(docs, shingleN, threshold, idCol,
        textCol)
      return jaccardByArrays(cand,
          shingleArrays(docs, shingleN, idCol, textCol), idCol)
        .filter(col("jaccard") >= threshold)
        .select(col("a"), col("b"), col("jaccard"))
    }
    // A stored leaf (Ckpt.store), NOT persist: cand feeds two consumers
    // (the verify join and the touched-ids semi-join), but caching would
    // compile the candidate subplan WITHOUT AQE — measured 62.6 s vs
    // 0.8 s for the identical 500k-doc candidate stage at the canary
    // (the prefix self-join + window need the adaptive plan). The
    // stored leaf dedupes the two reads and keeps AQE.
    val cand = prefixCandidates(docs, shingleN, threshold, idCol, textCol)
      .transform(graft.util.Ckpt.store(_))
    // Verify arrays are built ONLY for candidate-touching docs: the
    // broadcast semi-join restricts the corpus in its scan stage, so
    // the shingle-array build + its two join exchanges are candidate-
    // sized, never corpus-sized (at the 500k-doc canary: verify
    // 33.9 s → array build over ~10k touched docs; at 100 TB the
    // difference between rescanning the corpus and touching the pairs).
    val ids = cand.select(col("a").as(idCol))
      .union(cand.select(col("b").as(idCol))).distinct()
    // no broadcast hint: AQE broadcasts when ids is small (typical) but
    // keeps a shuffled semi-join legal when the candidate set is huge
    val touched = docs.join(ids, Seq(idCol), "left_semi")
    jaccardByArrays(cand,
        shingleArrays(touched, shingleN, idCol, textCol), idCol)
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** The prefix filter's candidate stage, exposed separately so scale
    * accounting (ScaleCanary) can measure candidate VOLUME — the
    * intermediate that determines whether PPJoin scales — without
    * re-deriving the prefix tables. [[prefixFilterJoin]] = this +
    * exact-Jaccard verification. */
  def prefixCandidates(docs: DataFrame, shingleN: Int = 3,
                       threshold: Double = 0.5,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleTable(docs, shingleN, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("gf"))
    val byDoc = Window.partitionBy(idCol)
    val ranked = sh.join(freq, Seq("shingle"))
      .withColumn("sz", count(lit(1)).over(byDoc))
      .withColumn("rk", row_number().over(
        byDoc.orderBy(col("gf").asc, col("shingle").asc)))
    // Jaccard prefix length: |x| - ceil(t*|x|) + 1
    val prefixes = ranked
      .filter(col("rk") <=
        col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col(idCol), col("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    prefixes.select(col("shingle"), col(idCol).as("a"))
      .join(prefixes.select(col("shingle"), col(idCol).as("b")),
        Seq("shingle"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Exact duplicate-span detection (the n-gram-position formulation of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better" — their suffix-array substring dedup, restated as: a span =
    * the n-token gram starting at each token position; a span is
    * duplicated when its gram text occurs more than once in the corpus,
    * within OR across documents). Returns one row per document:
    * (id, n_spans, dup_spans, dup_frac).
    *
    * Shape at scale: gram frequencies are ONE hash-aggregation keyed by
    * the 60-bit gram hash (map-side combine applies), filtered to the
    * duplicated grams only — typically a tiny fraction of a deduped
    * corpus, so by default that set is broadcast and the gram stream is
    * probed inside its own scan stage (the corpus never shuffles for the
    * join; same posture as [[decontaminate]]). For corpora where the
    * duplicated-gram set itself is huge, `broadcastDups = false` lets
    * the optimizer plan a shuffled join on the gram key instead. The
    * final per-doc count is map-side combinable.
    */
  def duplicateSpans(docs: DataFrame, n: Int = 5,
                     idCol: String = "doc_id", textCol: String = "text",
                     broadcastDups: Boolean = true): DataFrame = {
    // gram stream feeds the frequency agg AND the probe join — persist
    // or Spark re-runs the shingle explode through both subtrees
    val grams = docs
      .select(col(idCol), explode(Analyzer.shingles(col(textCol), n)).as("g"))
      .select(col(idCol), portableHash(col("g")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupGrams = grams.groupBy("h")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select("h")
    val perDoc = grams
      .join(if (broadcastDups) broadcast(dupGrams) else dupGrams, Seq("h"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("dup_spans"))
    docs.select(col(idCol),
        greatest(size(Analyzer.tokenize(col(textCol))) - (n - 1), lit(0))
          .cast("long").as("n_spans"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        when(col("n_spans") > 0,
          coalesce(col("dup_spans"), lit(0L)).cast("double") /
            col("n_spans").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col(idCol),
        posexplode(Analyzer.shingles(col(textCol), k)).as(Seq("pos", "sh")))
      .select(col(idCol), col("pos"),
        (portableHash(col("sh")) % lit(1000000007L)).as("h"))
    val byDoc = Window.partitionBy(idCol)
    val ahead = byDoc.orderBy("pos").rowsBetween(0, w - 1)
    sh.withColumn("fp", min(col("h")).over(ahead))
      .withColumn("n", count(lit(1)).over(byDoc))
      .filter(col("pos") <= col("n") - w) // full windows only
      .select(col(idCol), col("fp"))
      .distinct()
  }

  /** Shingle-CONTAINMENT near-superset pairs: |A∩B| / |A| (and / |B|),
    * the asymmetric cousin of Jaccard that catches doc-inside-doc
    * duplication — boilerplate wrappers, quoted articles, appended
    * tails — where Jaccard dilutes as the superset grows. A pair is
    * emitted when EITHER direction reaches `minContainmentPpm`; the two
    * ppm columns tell which side is the subset.
    *
    * Candidates come from an inverted shingle index capped at
    * `maxDf` postings per shingle — a pair is found iff it shares at
    * least one rare shingle, so candidate volume is bounded by
    * Σ_rare df² regardless of corpus size (common-boilerplate shingles
    * never join). The containment arithmetic itself is EXACT for every
    * candidate (full shingle sets, integer ppm division); the cap only
    * bounds recall, and the q133 oracle applies the identical cap so
    * the gate checks the same semantics. Near-supersets by construction
    * share rare shingles (the subset's whole set is present in both),
    * so recall loss is confined to pairs made ENTIRELY of
    * corpus-common shingles.
    */
  def containmentPairs(docs: DataFrame, shingleN: Int = 3,
                       maxDf: Int = 64, minContainmentPpm: Long = 800000L,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // Plan shape: the wide shingle EXPLODE exists only where a
    // per-shingle key is genuinely needed — the df count and the
    // rare-postings self-join (candidate generation). Everything
    // per-DOC stays a per-row array expression: |A| is
    // `size(shingleArr)` computed in the scan projection (no explode,
    // no groupBy), and |A∩B| is `size(array_intersect(...))` over the
    // candidate pairs only — the pair set is blocking-bounded
    // (Σ_rare df²), so carrying the two token arrays through the
    // candidate joins is far cheaper than re-exploding the corpus
    // twice and re-aggregating the expanded pair×shingle rows.
    // (A measured dead end from the same family: md5-hashing the
    // shingle join keys — 7.3 s vs 8.9 s at sf0.1 but 107.6 s vs
    // 40.2 s at the 500k-doc canary; the hex-hash CPU outweighs the
    // narrower exchanges. Strings kept.)
    val shingleArr = array_distinct(
      graft.text.Analyzer.shingles(col(textCol), shingleN))
    val docArrs = docs.select(col(idCol), shingleArr.as("sharr"),
      size(shingleArr).as("sz"))
    val sh = shingleTable(docs, shingleN, idCol, textCol)
    val rareShingles = sh.groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("shingle")
    val rare = sh.join(rareShingles, Seq("shingle"))
    val cand = rare.select(col("shingle"), col(idCol).as("a"))
      .join(rare.select(col("shingle"), col(idCol).as("b")), Seq("shingle"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(docArrs.select(col(idCol).as("a"), col("sharr").as("arr_a"),
        col("sz").as("sza")), Seq("a"))
      .join(docArrs.select(col(idCol).as("b"), col("sharr").as("arr_b"),
        col("sz").as("szb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("arr_a"), col("arr_b")))
          .cast("long").as("shared"),
        col("sza"), col("szb"))
      .select(col("a"), col("b"),
        expr("shared * 1000000 div sza").as("cont_a_ppm"),
        expr("shared * 1000000 div szb").as("cont_b_ppm"))
      .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm"))
        >= minContainmentPpm)
  }
}
