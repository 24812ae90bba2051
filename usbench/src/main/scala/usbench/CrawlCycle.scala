package usbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.LongAccumulator

import graft.api.Engine
import graft.crawl.Crawl
import graft.search.Search
import graft.store.Versioned

/** crawl_index_cycle: one crawler thread re-crawls a seeded synthetic
  * web in a closed loop. Every page is re-fetched once per `Slots`
  * cycles, so each cycle fetches the same number of pages. A cycle:
  * crawl pass → merge the changed links, append edges and documents →
  * drain one micro-batch of the documents stream, which folds the new
  * documents into the inverted index → warm-started PageRank and score
  * write-back → URL lookups of pages the cycle just fetched. "op" is a
  * whole cycle, "aux" one of those read-after-write lookups. */
final class CrawlCycle extends Workload {
  import CrawlCycle._

  private var web: Gen.Web = _
  private var getter: Fetcher = _
  private var root: String => String = _
  private var query: StreamingQuery = _
  private var scores: Array[org.apache.spark.sql.Row] = _
  private val indexed = new java.util.concurrent.atomic.AtomicLong
  private var cycle = 0
  private var obs: Obs = _

  def build(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    web = ctx.gen.web(Pages)
    getter = Fetcher(Crawl.TableUrlGetter(web.bodies),
      spark.sparkContext.longAccumulator("fetch attempts"),
      spark.sparkContext.longAccumulator("fetch ok"))
    root = t => ctx.sub(t)
    // the frontier also knows the dead URLs; they stay stale (404)
    Versioned.commitAppend(
      (web.urls.indices.map(i => (web.urls(i), 1L + i % Slots)) ++
        web.dead.map(_ -> 0L))
        .toDF("url", "retrieved_at")
        .select(md5(col("url")).as("id"), col("url"), col("retrieved_at"))
        .repartitionByRange(Slots, col("retrieved_at")),
      root("links"), statsCols = Seq("url"), bloomCols = Seq("url"))
  }

  /** Starts the documents stream (its schema given: the table does not
    * exist yet), then runs `WarmCycles` cycles untimed. The first creates
    * the edge and document tables, seeds the index and the PageRank
    * scores, and runs every code path a timed cycle runs. */
  def warmUp(ctx: Ctx): Unit = {
    obs = ctx.obs
    query = ctx.spark.readStream.format("graft-versioned")
      .schema(DocsSchema).option("root", root("documents")).load()
      .writeStream.option("checkpointLocation", root("checkpoint"))
      .foreachBatch((b: DataFrame, _: Long) => fold(b)).start()
    (1 to WarmCycles).foreach { _ =>
      val c = nextCycle(ctx)
      Serving.cleanup(ctx.spark)
      val bad = failures(c)
      require(bad.isEmpty, bad.mkString("; "))
    }
  }

  /** Drain the documents stream until it has indexed `docs` documents
    * since the count stood at `base` (or a minute passed):
    * `processAllAvailable` can return early when a trigger that found no
    * data races the commit. Returns the documents indexed since `base`. */
  private def drain(base: Long, docs: Long): Long = {
    val deadline = System.nanoTime() + 60000000000L
    query.processAllAvailable()
    while (indexed.get - base < docs && System.nanoTime() < deadline)
      query.processAllAvailable()
    indexed.get - base
  }

  override def close(): Unit = if (query != null) {
    query.stop(); query = null
  }

  /** Fold one micro-batch of documents into the inverted index. Doc ids
    * are (crawl time, page number): monotone across batches, as
    * `mergeIndexSegments` requires. */
  private def fold(b: DataFrame): Unit = {
    val spark = b.sparkSession
    indexed.addAndGet(b.count())
    val seg = obs.span("search", "invertedIndex") {
      Search.invertedIndex(b.select(
        (col("indexed_at") * 1000000L +
          regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")).as("doc_id"),
        col("content")), "doc_id", "content")
    }
    val idx = root("index")
    val next =
      if (Versioned.latestVersion(idx) == 0L) seg
      else obs.span("search", "mergeIndexSegments") {
        Search.mergeIndexSegments(Versioned.read(spark, idx), seg)
      }
    obs.span("store", "commitOverwrite") { Versioned.commitOverwrite(next, idx) }
  }

  /** Time `body` as step `name` of a cycle (and as a span of `layer`). */
  private def step[T](steps: ArrayBuffer[(String, Long, Long)], layer: String,
                      name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = obs.span(layer, name)(body)
    steps += ((name, t0, System.nanoTime())); r
  }

  /** One cycle, `cycle` the next number. Cycle c (from 1) finds exactly
    * page slot (c - 1) % Slots stale — stamped below 1 + c — and stamps
    * those pages Slots + c. */
  private def nextCycle(ctx: Ctx): Cycle = {
    val spark = ctx.spark
    cycle += 1
    val now = Slots.toLong + cycle
    val slot = (cycle - 1) % Slots
    val rnd = ctx.gen.rng(10 + cycle)
    val probe = Seq.fill(FreshLookups)(slot + Slots * rnd.nextInt(Pages / Slots))
    val base = indexed.get
    val steps = ArrayBuffer[(String, Long, Long)]()
    val links = obs.span("store", "Versioned.read") {
      Versioned.read(spark, root("links"))
    }
    // the crawler stages its update set — only the rows the pass changed:
    // re-crawled pages and new URLs — so the merge below times the store
    val (res, pages, changed) = step(steps, "crawl", "crawl") {
      val r = Crawl.pass(links, getter, 1L + cycle, now)
      (r, r.documents.count(),
        r.links.join(links, Seq("id", "url", "retrieved_at"), "left_anti")
          .localCheckpoint())
    }
    val fs0 = if (ctx.tracing) CountingFileSystem.snapshot() else null
    step(steps, "store", "merge") {
      Versioned.commitMerge(changed, root("links"), Seq("url"))
    }
    step(steps, "store", "append") {
      Versioned.commitAppend(res.edges, root("edges"))
    }
    step(steps, "store", "append") {
      Versioned.commitAppend(res.documents, root("documents"))
    }
    val userBytes =
      if (!ctx.tracing) 0L
      else Seq(changed, res.edges, res.documents).map(payloadBytes).sum
    if (ctx.tracing) {
      val fs1 = CountingFileSystem.snapshot()
      steps += (("fs_commit_ops", 0L, CountingFileSystem.allOps(fs0, fs1)))
      steps += (("fs_commit_bytes", 0L, CountingFileSystem.bytes(fs0, fs1)))
    }
    val batchRows = step(steps, "sources", "batch") { drain(base, pages) }
    val rankIters = step(steps, "graph", "rank_warm") { rank(ctx) }
    step(steps, "api", "write_scores") {
      val docs = Versioned.read(spark, root("documents"))
        .select(col("link_id").as("doc_id"), col("title"))
      val s = spark.createDataFrame(scores.toSeq.asJava, ScoreSchema)
        .withColumnRenamed("id", "doc_id")
      Engine.writeScores(docs, s).queryExecution.toRdd.foreach(_ => ())
    }
    val lookups = probe.map { p =>
      val fs0 = if (ctx.tracing) CountingFileSystem.snapshot() else null
      val t0 = System.nanoTime()
      val df = obs.span("api", "Engine.lookupKey") {
        Engine.lookupKey(spark, root("links"), web.urls(p))
      }
      val t1 = System.nanoTime()
      obs.span("plans", "executedPlan") { df.queryExecution.executedPlan }
      val t2 = System.nanoTime()
      val rows = obs.span("spark", "collect") { df.collect() }
      val t3 = System.nanoTime()
      val fsOps = if (ctx.tracing)
        CountingFileSystem.readOps(fs0, CountingFileSystem.snapshot()) else 0L
      val files = if (ctx.tracing) Report.scanMetrics(df.queryExecution)._2
        else 0L
      Fresh(web.urls(p), rows.map(_.getAs[Long]("retrieved_at")).toSeq,
        Seq(t0, t1, t2, t3), fsOps, files)
    }
    Cycle(cycle, now, pages, batchRows, steps.toSeq, lookups, userBytes,
      rankIters)
  }

  /** Output checks of a cycle. */
  private def failures(c: Cycle): Seq[String] = {
    val want = Pages / Slots
    (if (c.pages != want)
      Seq(s"cycle ${c.n} committed ${c.pages} pages, want $want")
    else if (c.batchRows != c.pages)
      Seq(s"cycle ${c.n} indexed ${c.batchRows} of ${c.pages} documents")
    else Nil) ++ c.lookups.filterNot(_.stamps == Seq(c.now)).map { f =>
      s"cycle ${c.n}: lookup of ${f.url} saw ${f.stamps}, want Seq(${c.now})"
    }
  }

  /** Warm-started PageRank over the crawled link graph (md5 ids);
    * returns the iterations it ran. */
  private def rank(ctx: Ctx): Int = {
    val spark = ctx.spark
    val e = Versioned.read(spark, root("edges")).select("src", "dst").distinct()
    val v = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct()
    val warm = Option(scores).map(rs =>
      spark.createDataFrame(rs.toSeq.asJava, ScoreSchema))
    val r = ctx.obs.span("api", "Engine.pageRankPass") {
      Engine.pageRankPass(v, e, maxIter = RankIters, warmStart = warm)
    }
    scores = r.scores.collect()
    r.iterations
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val obs = ctx.obs
    val gc0 = Obs.gcMillis
    obs.progress.clear()
    val a0 = getter.attempts.value
    val ok0 = getter.ok.value
    val cycles = ArrayBuffer[Cycle]()
    // a fixed cycle count per run length, not a deadline: every run of
    // the same length pools the same cycles, however fast the host
    (1 to math.max(2, ctx.seconds / SecondsPerCycle)).foreach { _ =>
      val (op, c) = obs.op("cycle")(nextCycle(ctx))
      Serving.cleanup(spark)
      out.attempted += 1 + c.lookups.size
      failures(c).foreach(out.fail)
      cycles += c.copy(op = op)
    }
    val gcMs = (Obs.gcMillis - gc0).toDouble
    val cycleMs = cycles.toSeq.map { c =>
      val (a, b) = obs.opSpans.get(c.op); (b - a) / 1e6 }
    Report.latency(out, "op", cycleMs)
    Report.latency(out, "aux", cycles.toSeq.flatMap(_.lookups.map(_.ms)))
    out.info("steps_ms") = cycles.toSeq.map(_.steps.filterNot(_._2 == 0L)
      .map(s => s._1 -> (s._3 - s._2) / 1e6))

    if (ctx.tracing) {
      Report.common(ctx, cycles.toSeq.map(_.op), gcMs, out)
      def stepMs(name: String) = cycles.toSeq.flatMap(_.steps
        .filter(_._1 == name).map(s => (s._3 - s._2) / 1e6))
      def stepVal(name: String) = cycles.toSeq.flatMap(_.steps
        .filter(_._1 == name).map(_._3.toDouble))
      val n = cycles.size.toDouble
      out.metrics("crawl.pass_ms_p50") = Report.p50(stepMs("crawl"))
      val attempts = getter.attempts.value - a0
      out.metrics("crawl.pages_fetched_per_pass") = attempts / n
      out.metrics("crawl.fetch_ok_ratio") =
        (getter.ok.value - ok0).toDouble / math.max(1L, attempts)
      out.metrics("crawl.ingest_pages_per_s") =
        cycles.map(_.pages).sum / (cycleMs.sum / 1e3)
      out.metrics("store.merge_commit_p50_ms") = Report.p50(stepMs("merge"))
      out.metrics("store.append_commit_p50_ms") = Report.p50(stepMs("append"))
      out.metrics("store.fs_ops_per_commit") = stepVal("fs_commit_ops").sum / (3 * n)
      out.metrics("store.write_amp") = stepVal("fs_commit_bytes").sum /
        math.max(1L, cycles.map(_.userBytes).sum)
      val readOps = cycles.toSeq.map(c => c.lookups.map(_.fsOps).sum.toDouble /
        math.max(1, c.lookups.size))
      out.metrics("store.fs_ops_per_read") = readOps.sum / n
      out.metrics("store.fs_ops_per_read_growth") =
        readOps.last / math.max(1.0, readOps.head)
      out.metrics("store.table_versions") =
        Versioned.latestVersion(root("links")).toDouble
      out.metrics("store.space_per_live_byte") = spaceAmp(spark)
      val fresh = cycles.toSeq.flatMap(c => c.lookups.map(c.op -> _))
      def phase(i: Int) = Report.p50(fresh.map(f => (f._2.t(i + 1) - f._2.t(i)) / 1e6))
      out.metrics("lookup.build_ms_p50") = phase(0)
      out.metrics("lookup.plan_ms_p50") = phase(1)
      out.metrics("lookup.exec_ms_p50") = phase(2)
      out.metrics("lookup.eager_jobs") = fresh.map { case (op, f) =>
        obs.jobsOf(op).count { j =>
          val t = obs.msToNano(j.startMs); t >= f.t(0) && t < f.t(1) }
      }.sum.toDouble / math.max(1, fresh.size)
      out.metrics("store.files_admitted_per_lookup") =
        fresh.map(_._2.files).sum.toDouble / math.max(1, fresh.size)
      out.metrics("graph.pagerank_rounds") = Report.p50(cycles.map(_.rankIters.toDouble))
      out.metrics("graph.jobs_per_round") = cycles.toSeq.map { c =>
        val (_, t0, t1) = c.steps.find(_._1 == "rank_warm").get
        obs.jobsOf(c.op).count { j =>
          val t = obs.msToNano(j.startMs); t >= t0 && t <= t1 }
      }.sum.toDouble / math.max(1, cycles.map(_.rankIters).sum)
      val batches = obs.progress.asScala.toSeq.map(_.progress)
      def dur(k: String) = batches.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
      out.metrics("sources.batch_ms_p50") = Report.p50(dur("triggerExecution"))
      out.metrics("sources.batch_planning_ms_p50") = Report.p50(dur("queryPlanning"))
      out.metrics("sources.batch_walcommit_ms_p50") = Report.p50(dur("walCommit"))
      // the documents the batches delivered: numInputRows counts a row
      // once per scan of the batch, and `fold` scans it twice
      out.metrics("sources.rows_per_batch") =
        cycles.map(_.batchRows).sum.toDouble / math.max(1, batches.size)
      out.metrics("graph.rank_warm_s_p50") = Report.p50(stepMs("rank_warm")) / 1e3
      out.metrics("api.write_scores_ms_p50") = Report.p50(stepMs("write_scores"))
    }
  }

  /** Bytes under the table roots per byte of live row payload. */
  private def spaceAmp(spark: SparkSession): Double = {
    val tables = Seq("links", "edges", "documents", "index")
    val disk = tables.map { t =>
      val p = java.nio.file.Paths.get(root(t))
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }.sum
    val live = tables.map(t => payloadBytes(Versioned.read(spark, root(t)))).sum
    disk.toDouble / math.max(1L, live)
  }
}

object CrawlCycle {
  val Pages = 600
  /** Each page is re-crawled every `Slots` cycles. */
  val Slots = 6
  /** PageRank iterations per cycle at most: the warm start carries the
    * power iteration across cycles, so each cycle's ranking work is
    * bounded (it stops earlier once the SAD tolerance is met). */
  val RankIters = 1
  val FreshLookups = 6
  /** Untimed cycles before the timed ones. The first runs cold, at about
    * twice a later cycle's time. Later cycles still get faster by a few
    * percent each for several cycles (a second untimed one did not
    * flatten them, and a run must stay near one minute), so the timed
    * cycles are a fixed stretch of the sequence instead: every run pools
    * the same cycles. */
  val WarmCycles = 1
  /** Timed cycles: one per this many seconds of `--seconds`, at least
    * two (2 at 12 s). A cycle takes about 8-10 s on a 4-core host; a
    * third one would push a run well past one minute. */
  val SecondsPerCycle = 6

  val ScoreSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, score DOUBLE")
  /** The documents `Crawl.pass` produces. */
  val DocsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "link_id STRING, url STRING, title STRING, content STRING, indexed_at BIGINT")

  /** The crawl's fetcher: graft's TableUrlGetter, counting calls. */
  final case class Fetcher(inner: Crawl.TableUrlGetter,
                           attempts: LongAccumulator, ok: LongAccumulator)
      extends Crawl.UrlGetter {
    def get(url: String): Crawl.FetchResult = {
      val r = inner.get(url)
      attempts.add(1)
      if (r.status == 200) ok.add(1)
      r
    }
  }

  /** A read-after-write lookup; `t` = start, built, planned, done (ns). */
  final case class Fresh(url: String, stamps: Seq[Long], t: Seq[Long],
                         fsOps: Long, files: Long) {
    def ms: Double = (t(3) - t(0)) / 1e6
  }
  final case class Cycle(n: Int, now: Long, pages: Long, batchRows: Long,
                         steps: Seq[(String, Long, Long)],
                         lookups: Seq[Fresh], userBytes: Long,
                         rankIters: Int, op: Long = 0L)

  /** Row payload: string bytes plus 8 per numeric or array element. */
  def payloadBytes(df: DataFrame): Long = {
    val parts: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
        case _: org.apache.spark.sql.types.ArrayType =>
          coalesce(size(col(f.name)).cast("long") * 8L, lit(0L))
        case _ => lit(8L)
      }
    }
    df.select(parts.reduce(_ + _).as("b")).agg(coalesce(sum("b"), lit(0L)))
      .head().getLong(0)
  }
}
