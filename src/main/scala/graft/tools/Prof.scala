package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Stage-level profiler over the engine Bench times (`graft.Session`):
  * runs each named SparkEntry query against SPARK_GRAFT_SF_DIR twice,
  * profiles the second attempt, and prints its formatted executed plan
  * (pushdown, pruning, join strategy, codegen spans) and a per-stage
  * table of task counts, wall/run/cpu/gc time, fetch wait and shuffle
  * volume, then the classes the attempt compiled and their compile
  * time, and the Spark jobs and SQL executions it ran: the feedback
  * loop for judging whether a plan is overhead-bound or work-bound.
  *
  * Usage: `tools/run.sh graft.tools.Prof q11_pagerank [query ...]`. */
object Prof {
  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(graft.SparkEntry.queries.contains)
    require(args.nonEmpty && unknown.isEmpty,
      "usage: graft.tools.Prof <query> [query ...]; unknown: " +
        unknown.mkString(", "))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a testdata directory"))
    val spark = graft.Session.local()
    val recorder = new StageRecorder
    spark.sparkContext.addSparkListener(recorder)

    // Untimed warm-up (mirrors Bench)
    graft.Tables.nation(spark, sfDir).groupBy("n_regionkey")
      .count().collect()

    for (qname <- args) {
      def attempt(n: Int): QueryExecution = {
        val t0 = System.nanoTime()
        val qe = graft.SparkEntry.queries(qname)(spark, sfDir).queryExecution
        val rows = qe.toRdd.count()
        val secs = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        println(f"== $qname attempt $n: $secs%.2f s, rows=$rows ==")
        qe
      }
      // Attempt 1 warms the JIT and compiles the query's generated
      // classes, which attempt 2 finds in Spark's class cache (sized by
      // GraftExtensions). An attempt 2 that still compiles dozens of
      // classes means cache thrash or literals inlined per call.
      attempt(1)
      drain(spark)
      recorder.start()
      val (compiled0, compileNs0) = codegen
      val profiled = attempt(2)
      drain(spark)
      val (compiled1, compileNs1) = codegen
      println(profiled.explainString(FormattedMode))
      printStages(recorder.stages)
      println(s"-- codegen: ${compiled1 - compiled0} classes compiled, " +
        s"${(compileNs1 - compileNs0) / 1000000} ms; " +
        s"${recorder.jobs} jobs, ${recorder.executions} SQL executions")
    }
    spark.stop()
  }

  /** (classes compiled, compile ns) so far in this JVM. */
  private def codegen: (Long, Long) = (
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime)

  /** Waits until the async listener bus has delivered every posted
    * event (private[spark] is public bytecode, so plain reflection
    * reaches waitUntilEmpty); sleeps only as a fallback. */
  private def drain(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .fold(Thread.sleep(500))(_.invoke(bus))
    } catch { case _: Throwable => Thread.sleep(500) }

  private def printStages(stages: Seq[StageRow]): Unit = {
    println(f"${"stage"}%-6s${"tasks"}%-7s${"wall_ms"}%-9s${"run_ms"}%-9s" +
      f"${"cpu_ms"}%-9s${"gc_ms"}%-7s${"fetch"}%-7s${"shuf_wr"}%-10s" +
      f"${"rd_recs"}%-10s")
    // -1 wall = completed without a submission time
    stages.filter(s => s.wallMs > 30 || s.wallMs < 0).foreach { s =>
      println(f"${s.id}%-6d${s.tasks}%-7d${s.wallMs}%-9d${s.runMs}%-9d" +
        f"${s.cpuMs}%-9d${s.gcMs}%-7d${s.fetchWaitMs}%-7d" +
        f"${s.shuffleWriteBytes}%-10d${s.shuffleReadRecords}%-10d")
    }
    println(f"-- totals: wall=${stages.map(_.wallMs max 0L).sum}ms " +
      f"run=${stages.map(_.runMs).sum}ms cpu=${stages.map(_.cpuMs).sum}ms " +
      f"gc=${stages.map(_.gcMs).sum}ms " +
      f"fetch=${stages.map(_.fetchWaitMs).sum}ms stages=${stages.size}")
    val byTasks = stages.groupBy(_.tasks).view
      .mapValues(s => (s.size, s.map(_.wallMs max 0L).sum)).toMap
    println("-- stages by task count: " + byTasks.toSeq.sortBy(_._1)
      .map { case (k, (cnt, ms)) => s"$k tasks x$cnt=${ms}ms" }
      .mkString(", "))
  }
}

/** One completed stage; `wallMs` is -1 when it has no submission time. */
final case class StageRow(id: Int, tasks: Int, wallMs: Long,
    runMs: Long, cpuMs: Long, gcMs: Long, fetchWaitMs: Long,
    shuffleWriteBytes: Long, shuffleReadRecords: Long)

/** Records completed stages, and counts the jobs and SQL executions
  * started, from [[start]] on. Stage events arrive on
  * the async listener bus, so a warm-up attempt's late completions can
  * land after `start`; a stage submitted before the mark is dropped.
  * A stage with no submission time cannot be placed before the mark,
  * so once profiling has started it is kept. */
final class StageRecorder extends SparkListener {
  @volatile private var fromMs = Long.MaxValue
  @volatile private var recorded = List.empty[StageRow]
  @volatile private var jobCount = 0
  @volatile private var executionCount = 0

  def start(): Unit = synchronized {
    recorded = Nil
    jobCount = 0
    executionCount = 0
    fromMs = System.currentTimeMillis()
  }

  def jobs: Int = jobCount
  def executions: Int = executionCount

  override def onJobStart(js: SparkListenerJobStart): Unit =
    if (js.time >= fromMs) synchronized { jobCount += 1 }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if x.time >= fromMs =>
      synchronized { executionCount += 1 }
    case _ =>
  }

  def stages: Seq[StageRow] = recorded.sortBy(_.id)

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    if (si.submissionTime.fold(fromMs != Long.MaxValue)(_ >= fromMs)) {
      val wall = (for { s <- si.submissionTime; c <- si.completionTime }
        yield c - s).getOrElse(-1L)
      val m = si.taskMetrics
      val row = StageRow(si.stageId, si.numTasks, wall, m.executorRunTime,
        m.executorCpuTime / 1000000, m.jvmGCTime,
        m.shuffleReadMetrics.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.recordsRead)
      synchronized { recorded ::= row }
    }
  }
}
