package usbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow

import graft.api.Engine
import graft.store.Versioned

/** search_serving: one client sends requests back to back — ranked
  * full-text searches over a generated corpus plus URL/id point reads
  * and range reads over a versioned links table that set-up builds
  * through 8 commits (6 appends, 2 merges). "op" is a search, "aux" a
  * point or range read. */
final class Serving extends Workload {
  import Serving._

  private var gen: Gen = _
  private var docs: Array[Gen.Doc] = _
  private var dataDir: String = _
  private var linksRoot: String = _
  /** Live rows of the links table per src, read unpruned at set-up. */
  private var reference: Map[Long, Seq[Row]] = _

  def build(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    gen = ctx.gen
    docs = gen.corpus(Docs)
    dataDir = ctx.sub("data")
    linksRoot = ctx.sub("links")
    docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .repartition(ctx.cpus).write.parquet(s"$dataDir/documents.parquet")
    docs.toSeq.map(d => (d.id, d.prior)).toDF("doc_id", "prior")
      .coalesce(1).write.parquet(s"$dataDir/priors.parquet")

    // 6 append slices of contiguous pages; after every third append a
    // merge re-stamps the slice two back (a re-crawl); ts = the commit
    // number that last wrote the row. Skipping sidecars (stats, blooms)
    // are built once, after the load.
    val links = gen.links(Pages)
    val bySlice = links.groupBy(l => l.src * Slices / Pages)
    val expected = mutable.Map[(Long, Long), Row]()
    var commit = 0L
    def write(slice: Long, merge: Boolean): Unit = {
      commit += 1
      val rows = bySlice(slice).toSeq.map(l => Row(l.src, l.dst, l.url, commit))
      rows.foreach(r => expected((r.src, r.dst)) = r)
      val df = rows.toDF().coalesce(1)
      if (merge) Versioned.commitMerge(df, linksRoot, Seq("src", "dst"))
      else Versioned.commitAppend(df, linksRoot)
    }
    (0L until Slices.toLong).foreach { s =>
      write(s, merge = false)
      if (s % 3 == 2) write(s - 2, merge = true)
    }
    Versioned.indexSkipping(spark, linksRoot,
      statsCols = Seq("src", "ts", "url"), bloomCols = Seq("url", "src"))
    reference = Versioned.read(spark, linksRoot).as[Row].collect().toSeq
      .groupBy(_.src).map { case (k, v) => k -> v.sortBy(_.dst) }
    val got = reference.values.flatten.map(r => (r.src, r.dst) -> r).toMap
    require(got == expected.toMap,
      s"links table holds ${got.size} rows, the commits wrote " +
        s"${expected.size} distinct ones")
  }

  /** The stream's first `WarmRequests` requests, untimed: every search
    * shape (one to three terms, phrase; offsets 0, 10, 20) and every
    * read kind runs once cold before the timed ones. */
  def warmUp(ctx: Ctx): Unit = {
    gen.requests(WarmRequests, docs, Pages, Commits).foreach(r => serve(ctx, r))
    cleanup(ctx.spark)
  }

  /** One request: build the DataFrame through the facade, plan it, then
    * materialize every row through `queryExecution.toRdd`. */
  private def serve(ctx: Ctx, req: Gen.Req): Served = {
    val spark = ctx.spark
    val obs = ctx.obs
    val t0 = System.nanoTime()
    val (df, total) = req match {
      case q: Gen.SearchReq =>
        val (d, p) = obs.span("store", "Tables.read") {
          (graft.Tables.read(spark, dataDir, "documents"),
            graft.Tables.read(spark, dataDir, "priors"))
        }
        val page = obs.span("api", "Engine.search") {
          Engine.search(d, p, q.query, q.offset, PageSize)
        }
        (page.rows, page.total)
      case k: Gen.KeyReq => obs.span("api", "Engine.lookupKey") {
        (Engine.lookupKey(spark, linksRoot, k.url, keyCol = "url"), -1L)
      }
      case i: Gen.IdReq => obs.span("api", "Engine.lookup") {
        (Engine.lookup(spark, linksRoot, i.src, keyCol = "src"), -1L)
      }
      case r: Gen.RangeReq => obs.span("api", "Engine.scanRange") {
        (Engine.scanRange(spark, linksRoot, r.from, r.to, r.tsBefore,
          idCol = "src", tsCol = "ts"), -1L)
      }
    }
    val t1 = System.nanoTime()
    val qe = df.queryExecution
    obs.span("plans", "executedPlan") { qe.executedPlan }
    val t2 = System.nanoTime()
    val rows = obs.span("spark", "toRdd") {
      qe.toRdd.map(_.copy()).collect()
    }
    val t3 = System.nanoTime()
    val (scanned, files) =
      if (ctx.tracing) Report.scanMetrics(qe) else (0L, 0L)
    if (ctx.tracing) obs.notePlanning(qe)
    Served(df.schema.fieldNames.zipWithIndex.toMap, rows, total, t0, t1, t2,
      t3, scanned, files)
  }

  /** Output checks; returns a failure message, or None. */
  private def check(req: Gen.Req, s: Served): Option[String] = req match {
    case q: Gen.SearchReq =>
      val id = s.cols("doc_id")
      val bl = s.cols("blended")
      val scores = s.rows.map(_.getDouble(bl))
      val want = math.max(0L, math.min(PageSize.toLong, s.total - q.offset))
      def hit(docId: Long): Boolean = {
        val text = docs(docId.toInt).text
        if (q.phrase) s" $text ".contains(s" ${q.terms.head} ")
        else text.split(" ").exists(q.terms.contains)
      }
      if (s.rows.length != want)
        Some(s"search '${q.query}' @${q.offset}: ${s.rows.length} rows, " +
          s"total ${s.total} wants $want")
      else if (scores.zip(scores.drop(1)).exists { case (a, b) => a < b })
        Some(s"search '${q.query}': page not sorted by blended desc")
      else s.rows.map(_.getLong(id)).find(d => !hit(d))
        .map(d => s"search '${q.query}': doc $d matches no query term")
    case _ =>
      val want = req match {
        case k: Gen.KeyReq => reference.getOrElse(k.src, Nil)
        case i: Gen.IdReq => reference.getOrElse(i.src, Nil)
        case r: Gen.RangeReq => (r.from until r.to)
          .flatMap(reference.getOrElse(_, Nil)).filter(_.ts < r.tsBefore)
        case _ => Nil
      }
      val got = s.rows.map { r =>
        Row(r.getLong(s.cols("src")), r.getLong(s.cols("dst")),
          r.getUTF8String(s.cols("url")).toString, r.getLong(s.cols("ts")))
      }.toSeq
      if (got.sortBy(r => (r.src, r.dst)) == want.sortBy(r => (r.src, r.dst)))
        None
      else Some(s"$req: ${got.size} rows, unpruned read has ${want.size}")
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val obs = ctx.obs
    // a fixed request count per run length, not a deadline: every run of
    // the same length times the same request shapes, however fast the host
    val reqs = gen.requests(3 * math.max(1, math.round(ctx.seconds *
      RoundsPerSecond).toInt), docs, Pages, Commits)
    val results = mutable.ArrayBuffer[(Gen.Req, Long, Served)]()
    val gc0 = Obs.gcMillis
    reqs.foreach { req =>
      out.attempted += 1
      try {
        val (op, s) = obs.op(kindOf(req))(serve(ctx, req))
        check(req, s).foreach(out.fail)
        results += ((req, op, s))
      } catch { case e: Exception => out.fail(s"$req threw $e") }
    }
    val gcMs = (Obs.gcMillis - gc0).toDouble
    cleanup(spark)

    def of(kind: String) = results.toSeq.filter(r => kindOf(r._1) == kind)
    def ms(kind: String) = of(kind).map { case (_, _, s) => (s.t3 - s.t0) / 1e6 }
    Report.latency(out, "op", ms("search"))
    Report.latency(out, "aux", ms("lookup") ++ ms("range"))

    if (ctx.tracing) {
      Report.common(ctx, results.toSeq.map(_._2), gcMs, out)
      Seq("search", "lookup", "range").foreach { kind =>
        val ss = of(kind)
        def p50(f: Served => Long) = Report.p50(ss.map(x => f(x._3) / 1e6))
        out.metrics(s"$kind.build_ms_p50") = p50(s => s.t1 - s.t0)
        out.metrics(s"$kind.plan_ms_p50") = p50(s => s.t2 - s.t1)
        out.metrics(s"$kind.exec_ms_p50") = p50(s => s.t3 - s.t2)
        out.metrics(s"$kind.eager_jobs") = ss.map { case (_, op, s) =>
          obs.jobsOf(op).count(j => obs.msToNano(j.startMs) < s.t1)
        }.sum.toDouble / math.max(1, ss.size)
      }
      val searches = of("search").map(_._3)
      out.metrics("search.rows_scanned_per_result") =
        searches.map(_.scanned).sum.toDouble /
          math.max(1L, searches.map(_.rows.length.toLong).sum)
      val lookups = of("lookup").map(_._3)
      out.metrics("store.files_admitted_per_lookup") =
        lookups.map(_.files).sum.toDouble / math.max(1, lookups.size)
      out.metrics("store.range_p50_ms") = Report.p50(ms("range"))
      out.metrics("store.table_versions") =
        Versioned.latestVersion(linksRoot).toDouble
    }
  }
}

object Serving {
  final case class Row(src: Long, dst: Long, url: String, ts: Long)

  final case class Served(cols: Map[String, Int], rows: Array[InternalRow],
                          total: Long, t0: Long, t1: Long, t2: Long,
                          t3: Long, scanned: Long, files: Long)

  val Docs = 2000
  val Pages = 2000
  val Slices = 6
  /** The appends plus a merge after every third one. */
  val Commits = Slices + Slices / 3
  val PageSize = 10
  /** Four searches (one per shape) and eight reads. */
  val WarmRequests = 12
  /** Rounds of (search, read, read) per second of `--seconds`: 7 rounds
    * at 12 s, which take about 12 s on a 4-core host. */
  val RoundsPerSecond = 0.6

  def kindOf(r: Gen.Req): String = r match {
    case _: Gen.SearchReq => "search"
    case _: Gen.RangeReq => "range"
    case _ => "lookup"
  }

  /** Drop what the engine cached or persisted for a request (as Bench
    * does between queries), outside any timing. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
