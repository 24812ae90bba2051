package graft.api

import org.apache.spark.sql.DataFrame

import graft.crawl.Crawl
import graft.graph.PageRank
import graft.search.Search
import graft.store.{StoreOps, Versioned}

/** SURVEY §7's `api` facade — the single object a user of the reference
  * system programs against, mirroring its three service entry points:
  *
  *  - [[search]] ≙ the frontend query path: parse (phrase vs match) →
  *    score → blend stored prior → rank → paginate
  *    (`monolith/service/frontend/frontend.go:288-343`);
  *  - [[crawlPass]] ≙ one crawler run over the link store
  *    (`monolith/service/crawler/crawler.go:44-124`);
  *  - [[pageRankPass]] ≙ one ranker run, and [[writeScores]] its
  *    write-back into the document index
  *    (`monolith/service/pagerank/pagerank.go:133-194`).
  *
  * Thin delegations only — every operator keeps living in its package;
  * this is the package boundary, not a re-implementation.
  */
object Engine {

  /** Full read path over a documents table; `priors` carries the stored
    * PageRank score to blend (reference ES additive blend). */
  def search(docs: DataFrame, priors: DataFrame, raw: String,
             offset: Int = 0, size: Int = 10,
             idCol: String = "doc_id",
             textCol: String = "text"): Search.Page =
    Search.search(docs, priors, raw, offset, size, idCol, textCol)

  /** One crawl pass: stale frontier → filters → fetch → extract →
    * merged links/edges + fresh documents. */
  def crawlPass(links: DataFrame, getter: Crawl.UrlGetter,
                staleBefore: Long, now: Long): Crawl.CrawlResult =
    Crawl.pass(links, getter, staleBefore, now)

  /** One PageRank pass over the link graph: (id, score) per vertex,
    * dead-end mass redistributed, SAD-converged. Pass the previous
    * pass's scores as `warmStart` to resume the iteration instead of
    * restarting from 1/N — the steady-state crawl cycle converges in a
    * couple of iterations per pass that way (q201: the warm trajectory
    * is EXACTLY the cold one, not an approximation). The vertex count
    * is part of the plan and the SAD action runs only where it can
    * stop the loop (`Result.sad` is otherwise computed when first
    * read), so a pass of at most two iterations runs only the stages
    * of its generations' plans: no count and no SAD action. */
  def pageRankPass(vertices: DataFrame, edges: DataFrame,
                   damping: Double = 0.85, maxIter: Int = 20,
                   stopTol: Option[Double] = Some(1e-3),
                   warmStart: Option[DataFrame] = None): PageRank.Result =
    PageRank.run(vertices, edges, damping, maxIter, stopTol,
      initScores = warmStart)

  /** Score write-back with placeholder creation for scored-but-unknown
    * docs (reference S9 semantics). */
  def writeScores(docs: DataFrame, scores: DataFrame,
                  idCol: String = "doc_id",
                  scoreCol: String = "score"): DataFrame =
    StoreOps.writeScores(docs, scores, idCol, scoreCol)

  /** The reference's universal read path (S1/S2: id ∈ [from, to) AND
    * ts < t, `linkgraph/store/cdb/cdb.go:25-28`) over a VERSIONED
    * links/edges table, with FILE SKIPPING: the scan plans only the
    * files whose stats-sidecar intervals overlap the range — on a
    * z-ordered table the id×ts rectangle maps to a handful of files,
    * so planning cost tracks the selection, not the table. The real
    * predicate is applied on top (sidecar bounds prune FILES; the
    * filter prunes rows and parquet row groups), so results are
    * identical to an unpruned scan + filter. An all-pruned range
    * returns an empty frame with the table's schema. The admitted
    * files, the tombstones and the schema all come from ONE store
    * snapshot, resolved once per call (Versioned.readSkipped). */
  def scanRange(spark: org.apache.spark.sql.SparkSession, root: String,
                idFrom: Long, idTo: Long, tsBefore: Long,
                idCol: String = "src", tsCol: String = "ts",
                version: Long = 0L): DataFrame = {
    import org.apache.spark.sql.functions.col
    val pred = col(idCol) >= idFrom && col(idCol) < idTo &&
      col(tsCol) < tsBefore
    val bounds = Map(idCol -> (idFrom, idTo - 1),
      tsCol -> (Long.MinValue, tsBefore - 1))
    // the facade never hand-builds a scan (r12's DV-resurrection bug
    // class): readSkipped admits files and applies tombstones over one
    // snapshot
    graft.store.Versioned.readSkipped(spark, root, bounds, version)
      .filter(pred)
  }

  /** S3/S4 point lookup over a versioned table: bloom + stats sidecars
    * admit only the files that can contain the key, then the equality
    * filter (and parquet dictionary/stats pruning inside the admitted
    * files) does the rest. */
  def lookup(spark: org.apache.spark.sql.SparkSession, root: String,
             key: Long, keyCol: String = "src",
             version: Long = 0L): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.store.Versioned.readSkipped(spark, root, Map.empty, version,
      equalities = Map(keyCol -> key)).filter(col(keyCol) === key)
  }

  /** STRING-keyed point lookup — the reference's canonical identity is
    * the URL string (`linkgraph/store/cdb/cdb.go:16-22`, unique index
    * `000001_create_links_table.up.sql:3`): the bloom sidecar is
    * probed with the full-value hash key and the stats sidecar with
    * the 8-byte-prefix key, so a URL lookup on a clustered table
    * admits a handful of files instead of scanning every one. */
  def lookupKey(spark: org.apache.spark.sql.SparkSession, root: String,
                key: String, keyCol: String = "url",
                version: Long = 0L): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.store.Versioned.readSkipped(spark, root, Map.empty, version,
      stringEqualities = Map(keyCol -> key)).filter(col(keyCol) === key)
  }

  /** COUNT(*) of a versioned table: metadata-only when the stats
    * sidecar covers every file (no job runs), scan fallback otherwise. */
  def tableCount(spark: org.apache.spark.sql.SparkSession, root: String,
                 version: Long = 0L): Long = {
    val s = Versioned.snapshot(root, version)
    Versioned.metadataCount(s).getOrElse(
      Versioned.scanAdmitted(spark, s, s.dataFiles).count())
  }

  /** SQL-first entry: register every testdata table as a temp view
    * (normalized exactly as [[graft.Tables.read]] does — ns-LONG
    * `events.ts` included) plus the engine's native SQL functions
    * (graft_dot, graft_jaro_winkler via [[graft.plans.GraftExtensions]]
    * when installed), so `spark.sql("SELECT ... FROM lineitem ...")`
    * works against the same relations every `queries()` entry sees. */
  def registerTables(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Unit = {
    graft.Tables.names.foreach { t =>
      graft.Tables.read(spark, dir, t).createOrReplaceTempView(t)
    }
    // the engine's native SQL functions (graft_dot, graft_jaro_winkler,
    // graft_hll_distinct, graft_kmv_distinct) ride along
    graft.functions.Registry.register(spark)
  }
}
