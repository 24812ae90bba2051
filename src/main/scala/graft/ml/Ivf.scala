package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import graft.util.Ckpt
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** IVF (inverted-file) approximate nearest neighbour — the coarse-
  * quantizer scale path: k-means cluster the corpus once, then search
  * only the `nprobe` clusters nearest to the query. Complements the
  * sign-random-projection LSH in [[Similarity]]:
  *  - build: a few Lloyd iterations, each one broadcast of k centroids
  *    and one shuffle (groupBy cluster) — linear passes, no pairwise
  *    work, deterministic (hash-seeded init, fixed iteration count);
  *  - search: centroid ranking happens driver-side over k rows (k is
  *    small by construction), candidate scan touches ~nprobe/k of the
  *    corpus.
  * At 100 TB the assignment table is written alongside the embeddings
  * (partitioned by cluster), so a probe reads only its clusters'
  * partitions.
  */
object Ivf {

  final case class Index(assignments: DataFrame, centroids: DataFrame)

  private def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Squared L2 distance between two equal-length vectors. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b),
      (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** Assign every vector to its nearest centroid — min squared L2,
    * ties to the smallest cluster id (deterministic). centroids:
    * (cluster, centroid: array<double>) — k is small by construction,
    * so the matrix is collected and baked into ONE native codegen'd
    * expression (`NearestCentroid`, bit-identical distances and
    * tie-breaks to the crossJoin + argmin-window formulation it
    * replaces, which shuffled k× the corpus per Lloyd round). */
  def assign(emb: DataFrame, centroids: DataFrame,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val rows = centroids.select(col("cluster"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    emb.select(col(idCol), col(vecCol))
      .withColumn("cluster", graft.functions.VecFunctions
        .nearestCentroid(col(vecCol), rows.map(_._1), rows.map(_._2)))
  }

  /** Build an IVF index: `k` clusters, `iters` Lloyd rounds.
    * Deterministic: initial centroids are the `k` vectors with the
    * smallest xxhash64(id). */
  def build(emb: DataFrame, k: Int, iters: Int = 5,
            idCol: String = "vec_id",
            vecCol: String = "embedding"): Index = {
    val data = emb.select(col(idCol), col(vecCol))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var centroids = data
      .withColumn("h", xxhash64(col(idCol)))
      .orderBy("h").limit(k)
      .select(row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("h")).cast("long").as("cluster"),
        asDouble(col(vecCol)).as("centroid"))
      .transform(Ckpt.generation(_).truncate()) // tiny: k rows, eager

    for (_ <- 0 until iters) {
      val assigned = assign(data, centroids, idCol, vecCol)
      // new centroid = element-wise mean of member vectors (posexplode
      // keeps it schema-free — no fixed dimensionality anywhere)
      centroids = assigned
        .select(col("cluster"),
          posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
        .groupBy("cluster", "i")
        .agg(avg("x").as("m"))
        .groupBy("cluster")
        .agg(transform(
          sort_array(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("centroid"))
        .transform(Ckpt.generation(_).truncate())
    }

    val assignments = assign(data, centroids, idCol, vecCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    data.unpersist()
    Index(assignments, centroids)
  }

  /** Incremental index maintenance: assign ONLY the delta batch to the
    * index's FROZEN centroids and append — the q203-q207 incremental-
    * ingest posture extended to the ANN index. Assignment is a pure
    * per-row function of (vector, centroids), so append ≡ rebuild with
    * the same quantizer exactly (IvfSpec pins it); cost tracks the
    * delta (delta × k distance evaluations, zero corpus work). The
    * standard IVF production cycle: appends between re-trainings,
    * centroid refresh only when drift warrants a [[build]] — at which
    * point old probes stay servable from the prior index, the
    * Versioned-store swap discipline. */
  def append(index: Index, delta: DataFrame,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): Index =
    Index(index.assignments.unionByName(
      assign(delta, index.centroids, idCol, vecCol)), index.centroids)

  /** Centroid refresh — the retraining half of the IVF production
    * cycle ([[append]] is the accumulation half): one Lloyd round over
    * the CURRENT assignment of the grown corpus — each cluster's new
    * centroid is the element-wise mean of its members, then the whole
    * corpus reassigns to the refreshed quantizer. Swapped in through
    * the versioned store (q216): old probes stay servable at the
    * pinned pre-refresh version while new probes rank against the
    * refreshed centroids — retraining never blocks serving. Cost is
    * one corpus pass for the means + one for reassignment; run it when
    * [[append]] drift warrants, not per batch. */
  def refresh(index: Index, idCol: String = "vec_id",
              vecCol: String = "embedding"): Index = {
    val newCents = index.assignments
      .select(col("cluster"),
        posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
      .groupBy("cluster", "i")
      .agg(avg("x").as("m"))
      .groupBy("cluster")
      .agg(transform(
        sort_array(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("centroid"))
      .transform(Ckpt.generation(_).truncate()) // tiny: k rows, eager
    Index(assign(index.assignments.select(col(idCol), col(vecCol)),
      newCents, idCol, vecCol), newCents)
  }

  /** The `nprobe` clusters whose centroids are nearest the query —
    * the coarse pruning step shared by [[topK]] and [[Pq.ivfPqTopK]].
    * k rows in, nprobe rows out: driver-scale by construction. */
  def probeClusters(centroids: DataFrame, query: Seq[Float],
                    nprobe: Int): DataFrame = {
    val q = array(query.map(lit(_)): _*)
    centroids
      .withColumn("d", sqDist(q, col("centroid")))
      .orderBy(col("d"), col("cluster")).limit(nprobe)
      .select("cluster")
  }

  /** Batched approximate top-k: one plan answers a whole query table.
    * `queries`: (qid, qv). Each query probes its `nprobe` nearest
    * clusters; the corpus joins the broadcast (qid, cluster, qv) probe
    * table on cluster, so a corpus row is scored only for the queries
    * that probe its cluster. Per-query top-k is a WindowGroupLimit-
    * pruned rank — no global sort. The probe table is
    * #queries × nprobe; for page-sized query batches it broadcasts,
    * for huge batches repartition both sides by cluster instead. */
  def topKBatch(index: Index, queries: DataFrame, k: Int,
                nprobe: Int = 2, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wProbe = Window.partitionBy("qid")
      .orderBy(col("d"), col("cluster"))
    val probed = queries.crossJoin(index.centroids)
      .withColumn("d", sqDist(col("qv"), col("centroid")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select("qid", "qv", "cluster")
    val wTop = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col(idCol))
    index.assignments
      .join(broadcast(probed), Seq("cluster"))
      .select(col("qid"), col(idCol),
        Similarity.cosine(col(vecCol), col("qv")).as("cos"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select("qid", idCol, "cos")
  }

  /** Approximate top-k by cosine: scan only the `nprobe` clusters whose
    * centroids are closest to the query. */
  def topK(index: Index, query: Seq[Float], k: Int, nprobe: Int = 2,
           idCol: String = "vec_id",
           vecCol: String = "embedding"): DataFrame = {
    val q = array(query.map(lit(_)): _*)
    val probed = probeClusters(index.centroids, query, nprobe)
    index.assignments
      .join(broadcast(probed), Seq("cluster"), "left_semi")
      .select(col(idCol), Similarity.cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}
