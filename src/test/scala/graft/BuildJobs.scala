package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts the Spark jobs a block launches on the calling thread: a
  * local-property tag marks the block's jobs, a listener collects them,
  * and the asynchronous listener bus is drained before the count is
  * read. Used to pin what BUILDING a DataFrame may execute. Also
  * captures the plans a block executes. */
object BuildJobs {

  /** The `spark.sql.execution.id` of every job `body` launched (the
    * string "null" for a job outside any SQL execution). */
  def during(spark: SparkSession, tag: String)(body: => Unit)
      : Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(tag) != null)
          .foreach(p => jobs.add(
            String.valueOf(p.getProperty("spark.sql.execution.id"))))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "build")
    try body
    finally {
      sc.setLocalProperty(tag, null)
      drain(spark)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }

  /** The executed plan of every SQL execution that succeeded while
    * `body` ran — the only view of plans that run inside lazy
    * checkpoints. */
  def plans(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
                             ns: Long): Unit = { plans.add(qe.executedPlan); () }
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; drain(spark) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** Wait until the asynchronous listener bus has delivered every
    * event (private[spark] is public bytecode, so plain reflection
    * reaches waitUntilEmpty). */
  private def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .get.invoke(bus)
  }
}
