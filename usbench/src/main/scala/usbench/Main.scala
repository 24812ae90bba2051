package usbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run shares with its workload. */
final class Ctx(val spark: SparkSession, val obs: Obs, val gen: Gen,
                val seconds: Int, val cpus: Int, val tracing: Boolean,
                val dir: java.nio.file.Path,
                val traceDir: java.nio.file.Path) {
  def sub(name: String): String = dir.resolve(name).toString
}

/** A workload's findings: counts, failed checks and metrics. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()

  /** Record a failed output check (counted once per failing op). */
  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }
}

/** One workload: `build` makes its inputs (run several times; the
  * median counts toward `setup_s`), `warmUp` runs untimed ops on the
  * last build, `run` times a fixed amount of work that the run's
  * seconds set. */
trait Workload {
  def build(ctx: Ctx): Unit
  def warmUp(ctx: Ctx): Unit
  def run(ctx: Ctx, out: Outcome): Unit
  def close(): Unit = ()
}

object Main {
  val Layers = Seq("client", "api", "search", "store", "sources", "crawl",
    "graph", "plans", "spark", "jvm")

  /** (name, unit) of the metrics a run reports: the `end_to_end` list of
    * BENCHMARK.json (read from the working directory, the checkout's
    * root) untraced, its `per_layer` list traced. */
  def metricSpec(tracing: Boolean): Seq[(String, String)] = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCHMARK.json"))
    spec.get(if (tracing) "per_layer" else "end_to_end").elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  /** Input builds per run; `setup_s` takes their median. Two, not
    * more: a search build costs about 5 s on a 4-core host, and a run
    * must stay near one minute. */
  val BuildReps = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val tracing = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val dir = java.nio.file.Paths.get(opts("dir")).toAbsolutePath
    val traceDir = java.nio.file.Paths.get(opts("trace-dir")).toAbsolutePath
    val endToEnd = metricSpec(tracing = false)
    val wanted = metricSpec(tracing)
    val factory: () => Workload = workload match {
      case "search_serving" => () => new Serving
      case "crawl_index_cycle" => () => new CrawlCycle
      case w => System.err.println(s"unknown workload $w"); sys.exit(2)
    }

    def log(msg: String): Unit = System.err.println(f"[usbench] ${(System
      .currentTimeMillis() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1e3}%7.2fs $msg")
    log("jvm up")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("usbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.hadoop.fs.file.impl",
        if (tracing) "usbench.CountingFileSystem"
        else "graft.util.FastLocalFileSystem")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Logs.quietExpected()
    log("session built")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) /
      1e3

    log("first job done")
    val obs = new Obs(spark, tracing)
    val out = new Outcome
    var w: Workload = null
    def ctxOf(rep: Int) = new Ctx(spark, obs, new Gen(seed), seconds, cpus,
      tracing, java.nio.file.Files.createDirectories(dir.resolve(s"build$rep")),
      traceDir)
    val builds = (1 to BuildReps).map { rep =>
      if (w != null) w.close()
      w = factory()
      val t0 = System.nanoTime()
      w.build(ctxOf(rep))
      log(s"build $rep done")
      (System.nanoTime() - t0) / 1e9
    }
    val ctx = ctxOf(BuildReps)
    val t0 = System.nanoTime()
    w.warmUp(ctx)
    val warmS = (System.nanoTime() - t0) / 1e9
    log("warm-up done")
    val probeBefore = Obs.loadProbe(spark)
    out.info ++= Seq("workload" -> workload, "seed" -> seed)
    try w.run(ctx, out)
    catch { case e: Throwable =>
      out.fail(s"run aborted: $e")
      e.printStackTrace()
    }
    log("run done")
    val heapMb = Obs.retainedHeapMb()
    w.close()
    val probeAfter = Obs.loadProbe(spark)

    out.metrics("setup_s") = sessionS + Stats.median(builds) + warmS
    out.metrics("heap_retained_mb") = heapMb
    out.metrics("host.probe_before_s") = probeBefore
    out.metrics("host.probe_after_s") = probeAfter
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" ||
        k.startsWith("spark.hadoop.fs") || k == "spark.ui.enabled"
    }
    out.info ++= Seq("tracing" -> tracing, "cpus" -> cpus,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "session_s" -> sessionS, "build_reps_s" -> builds,
      "warm_up_s" -> warmS,
      "load_probe_s" -> Seq(probeBefore, probeAfter),
      "conf" -> conf.toMap, "failures" -> out.failures.toSeq,
      "end_to_end" -> endToEnd.map { case (n, _) =>
        n -> out.metrics.getOrElse(n, 0.0) }.toMap)
    obs.close()
    spark.stop()

    val metrics = wanted.map { case (n, u) =>
      n -> Map("value" -> out.metrics.getOrElse(n, 0.0), "unit" -> u)
    }.toMap
    val correct = out.failed == 0
    println(Json(Map("info" -> out.info.toMap)))
    println(Json(Map("correct" -> correct,
      "attempted" -> math.max(1L, out.attempted), "failed" -> out.failed,
      "metrics" -> metrics)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
