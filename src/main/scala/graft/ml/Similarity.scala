package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Embedding similarity search over an `array<float>` column — the
  * approximate-nearest-neighbour surface of the training-data pipeline.
  *
  * Everything is codegen'd `functions._` (zip_with / aggregate folds, no
  * UDFs):
  *  - [[cosine]] is an exact left-to-right fold, bit-reproducible across
  *    engines (floats widened to double per element);
  *  - [[bruteForceTopK]] is the exact baseline: one pass over N rows,
  *    top-k via orderBy+limit (Spark plans TakeOrderedAndProject — no
  *    full sort materialization);
  *  - [[lshBuckets]]/[[lshTopK]]/[[nearPairs]] is the scale path:
  *    sign-random-projection signatures against a deterministic
  *    hash-derived hyperplane matrix. The matrix is computed ONCE on the
  *    driver and baked into the plan as literal arrays — the projection
  *    is a plain codegen'd fold per plane, no per-row hashing.
  *
  * Bucket-count scaling law: a band key of `b` bits yields `2^b` buckets
  * per band, and the bucket-local self-join costs Σ bucket² ≈ N²/2^b per
  * band. Choose `b ≈ log2(N / targetBucketSize)` so buckets stay
  * join-sized as the corpus grows — at 100 TB that means 16-20+ bits per
  * band (and more bands to buy recall back), never a handful of global
  * buckets.
  */
object Similarity {

  private def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Reference implementation: lambda fold. Kept as the spec oracle for
    * the native expression; same left-to-right double accumulation. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), _ * _),
      lit(0.0), _ + _)

  /** Hot path: native codegen'd expression, bit-identical to the fold
    * (VecExpressionsSpec) at ~2× the throughput. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecFunctions.dotFF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by cosine against one query vector. */
  def bruteForceTopK(emb: DataFrame, query: Seq[Float], k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = array(query.map(lit(_)): _*)
    emb.select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * portable 60-bit hash of "p:d" mapped into [-0.5, 0.5). Computed on
    * the driver with the same md5-prefix formula the SQL oracles use, so
    * the literal matrix is bit-identical across engines. */
  def planeComponent(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$plane:$dim".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16).toDouble /
      (1L << 60).toDouble - 0.5
  }

  /** The planes × dim hyperplane matrix, driver-side. */
  def planeMatrix(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim)(planeComponent)

  /** Sign-random-projection signature for each vector: one bit per
    * hyperplane (`planes` ≤ 60), via ONE native codegen'd expression
    * (`SignRandomProjection`) carrying the whole literal hyperplane
    * matrix — bit-identical to a per-plane zip_with/aggregate fold
    * (VecExpressionsSpec) but a single small nested loop regardless of
    * plane count, where 40+ chained per-plane folds overflow the
    * codegen method budget and drop the projection to interpreted
    * evaluation. A wrong-length vector would otherwise silently poison
    * every projection and send the corpus to one bucket (turning the
    * bucket-local join into an all-pairs scan) — the expression
    * validates per row and fails loudly. */
  def lshBuckets(emb: DataFrame, planes: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 dim: Int = 64): DataFrame =
    emb.withColumn("bucket", graft.functions.VecFunctions
      .signProjection(col(vecCol), planeMatrix(planes, dim)))

  /** Approximate top-k: restrict to the query's LSH bucket (plus exact
    * re-rank). Falls back to nothing if the bucket is empty — callers
    * can lower `planes` or raise `multiProbe` for higher recall.
    *
    * `multiProbe` > 0 additionally probes that many one-bit-flip
    * neighbour buckets, flipping the planes with the SMALLEST absolute
    * query projection first — the classic multi-probe LSH order: a
    * near-zero margin means true neighbours plausibly landed on the
    * other side of that plane. Recall rises at constant bucket size
    * (probes × bucket rows scanned) instead of exploding bucket size by
    * dropping planes. */
  def lshTopK(emb: DataFrame, query: Seq[Float], k: Int, planes: Int = 8,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              multiProbe: Int = 0): DataFrame = {
    val dim = query.length
    // Query-side signature needs no Spark job: same driver-side matrix.
    val m = planeMatrix(planes, dim)
    val projs = (0 until planes).map { p =>
      (0 until dim)
        .foldLeft(0.0)((acc, d) => acc + query(d).toDouble * m(p)(d))
    }
    val qB = (0 until planes).map(p => if (projs(p) > 0) 1L << p else 0L).sum
    val flips = (0 until planes).sortBy(p => math.abs(projs(p)))
      .take(math.min(multiProbe, planes))
    val probes = qB +: flips.map(p => qB ^ (1L << p))
    val q = array(query.map(lit(_)): _*)
    lshBuckets(emb, planes, idCol, vecCol, dim)
      .filter(col("bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs near neighbours above a cosine threshold, bucket-local
    * with minhash-style banding: the `planes`-bit signature splits into
    * `bands` keys of planes/bands bits; a pair is a candidate iff it
    * matches on ALL bits of ≥ 1 band, then exact cosine verifies. More
    * bits per band → smaller buckets (cheaper join); more bands → recall
    * back (see the scaling law in the object doc). */
  def nearPairs(emb: DataFrame, planes: Int, minCos: Double,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                bands: Int = 1, dim: Int = 64): DataFrame = {
    require(planes % bands == 0, "planes must divide evenly into bands")
    val rpb = planes / bands
    // emb is referenced by the band join (twice) and the verify (twice).
    val e = emb.persist(StorageLevel.MEMORY_AND_DISK)
    // The planes×dims signature is the pipeline's hot loop and the band
    // self-join references it on BOTH sides (and Spark re-executes
    // duplicated subtrees) — materialize the narrow (id, bucket) frame
    // so every vector is projected exactly once.
    val bucketed = lshBuckets(e, planes, idCol, vecCol, dim)
      .select(col(idCol), col("bucket"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keyed = bucketed
      .select(col(idCol), col("bucket"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("key",
        expr(s"shiftright(bucket, CAST(band * $rpb AS INT))")
          .bitwiseAND(lit((1L << rpb) - 1)))
    val l = keyed.select(col("band"), col("key"), col(idCol).as("a"))
    val r = keyed.select(col("band"), col("key"), col(idCol).as("b"))
    val cand = l.join(r, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(e.select(col(idCol).as("a"), col(vecCol).as("va")), Seq("a"))
      .join(e.select(col(idCol).as("b"), col(vecCol).as("vb")), Seq("b"))
      .select(col("a"), col("b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Exact cosine k-nearest-neighbour graph within blocks, plus the
    * reciprocal (mutual) kNN pairs — the standard-robust edge set for
    * graph-based dedup/clustering (a hub being in everyone's top-k
    * doesn't make everyone its neighbour; mutuality filters exactly
    * that asymmetry).
    *
    * Blocking is the scale contract: candidates are an EQUI-join on
    * `blockCol` (a label, an IVF cluster id, an LSH band — whatever the
    * pipeline partitioned by), so pair volume is Σ_b |b|², never
    * corpus². Ranking runs on the µs-snapped cosine with the neighbour
    * id as tiebreak — integer order, engine-exact, and the per-vector
    * top-k window is WindowGroupLimit-pruned before any sort spills.
    * Reciprocity = one self-join of the kNN edge list on the reversed
    * pair.
    *
    * Returns mutual pairs (a < b): (a, b, cos_micros).
    */
  def blockedKnnGraph(emb: DataFrame, blockCol: Column, k: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = emb.select(blockCol.as("__blk"), col(idCol).as("a"),
      col(vecCol).as("va"))
    val r = emb.select(blockCol.as("__blk"), col(idCol).as("b"),
      col(vecCol).as("vb"))
    val scored = l.join(r, Seq("__blk"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        graft.util.Exact.micros(cosine(col("va"), col("vb")))
          .as("cos_micros"))
    val knn = scored
      .withColumn("__rn", row_number().over(
        Window.partitionBy("a").orderBy(col("cos_micros").desc, col("b"))))
      .filter(col("__rn") <= k)
      .select("a", "b", "cos_micros")
    knn.as("x")
      .join(knn.select(col("a").as("b"), col("b").as("a")).as("y"),
        Seq("a", "b"))
      .filter(col("a") < col("b"))
      .select("a", "b", "cos_micros")
  }
}
