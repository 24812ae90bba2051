package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches on the calling thread: a
  * local-property tag marks the block's jobs, a listener collects them,
  * and the asynchronous listener bus is drained before the count is
  * read. Used to pin what BUILDING a DataFrame may execute. */
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
      // the listener bus is asynchronous; drain it (private[spark] is
      // public bytecode, so plain reflection reaches waitUntilEmpty)
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .get.invoke(bus)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }
}
