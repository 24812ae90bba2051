package usbench

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Metrics every workload derives the same way from what [[Obs]] saw. */
object Report {
  private object Plans extends AdaptiveSparkPlanHelper

  /** (rows scanned, files read) by the file scans of an executed query,
    * from its SQL metrics (adaptive plans included). */
  def scanMetrics(qe: org.apache.spark.sql.execution.QueryExecution)
      : (Long, Long) = {
    val scans = Plans.collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def m(s: FileSourceScanExec, k: String): Long =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numOutputRows")).sum, scans.map(m(_, "numFiles")).sum)
  }

  def p50(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** Median latency into `out` as `<name>_p50_ms`; the tail (the
    * highest percentile with ten samples beyond it, the median when the
    * run has too few) goes to the info line with its sample count. */
  def latency(out: Outcome, name: String, xs: Seq[Double]): Unit = {
    val (p, t) = Stats.tail(xs)
    out.metrics(s"${name}_p50_ms") = Stats.median(xs)
    out.info(s"${name}_latency_ms") = Map("p50" -> Stats.median(xs),
      "tail" -> t, "tail_percentile" -> p, "samples" -> xs.size,
      "samples_ms" -> xs)
  }

  /** The Spark, JVM, planning and self-time metrics per op, plus the
    * span files when tracing. `gcMs` is collector time over the
    * measured interval. */
  def common(ctx: Ctx, ops: Seq[Long], gcMs: Double, out: Outcome): Unit = {
    val obs = ctx.obs
    obs.settle()
    val n = math.max(1, ops.size).toDouble
    val js = ops.flatMap(obs.jobsOf)
    val (stages, tasks, busy, shuffle, spill) = obs.stageTotals(js)
    out.metrics("spark.jobs_per_op") = js.size / n
    out.metrics("spark.stages_per_op") = stages / n
    out.metrics("spark.tasks_per_op") = tasks / n
    out.metrics("spark.task_busy_ms_per_op") = busy / n
    out.metrics("spark.shuffle_bytes_per_op") = shuffle / n
    out.metrics("spark.spill_bytes") = spill.toDouble
    out.metrics("spark.driver_gap_ms_per_op") = ops.map { op =>
      val (t0, t1) = obs.opSpans.get(op)
      obs.driverGapNs(op, t0, t1) / 1e6
    }.sum / n
    out.metrics("jvm.gc_ms_per_op") = gcMs / n
    out.metrics("plans.planning_ms_p50") = p50(obs.planningMsOf(ops))
    if (ctx.tracing) {
      val self = obs.selfTimes(ops)
      Main.Layers.foreach { l =>
        out.metrics(s"self.${l}_ms_per_op") =
          self.values.map(_._2.getOrElse(l, 0.0)).sum / n
      }
      out.metrics("trace.bookkeeping_ms_per_op") =
        obs.bookkeepingNs.get / 1e6 / n
      val tag = s"${out.info("workload")}-seed${out.info("seed")}"
      val traceDir = java.nio.file.Files.createDirectories(ctx.traceDir)
      obs.writeSpans(traceDir.resolve(s"$tag.spans.jsonl"))
      val table = Main.Layers.map(l => l -> out.metrics(s"self.${l}_ms_per_op"))
      java.nio.file.Files.writeString(traceDir.resolve(s"$tag.self.json"),
        Json(Map("ops" -> ops.size, "self_ms_per_op" -> table.toMap,
          "wall_ms_per_op" -> self.values.map(_._1).sum / n)) + "\n")
      out.info("trace_files") = Seq(s"$tag.spans.jsonl", s"$tag.self.json")
    }
  }
}
