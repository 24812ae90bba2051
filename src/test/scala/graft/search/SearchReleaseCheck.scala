package graft.search

import graft.Session
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Child-JVM half of SearchApiSpec's release check (the shared test JVM
  * holds other suites' persisted RDDs): runs 30 match and phrase
  * searches, drops their pages, then forces GCs until the ContextCleaner
  * has unpersisted every RDD the searches stored and the session's
  * persistent RDDs are back to their baseline. Prints "released", or
  * "pinned" with what is still held. No args. */
object SearchReleaseCheck {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(1)
    val sc = spark.sparkContext
    val unpersisted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    sc.addSparkListener(new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
        unpersisted.add(e.rddId); ()
      }
    })
    val baseline = persisted(sc)
    val stored = searches(spark) -- baseline
    def held = persisted(sc) -- baseline ++
      stored.filterNot(id => unpersisted.contains(id))
    val released = stored.nonEmpty && (1 to 50).exists { _ =>
      System.gc(); Thread.sleep(100); held.isEmpty
    }
    println(if (released) "released"
      else s"pinned: stored ${stored.toSeq.sorted}, held ${held.toSeq.sorted}")
    spark.stop()
  }

  /** The ids only: a `keySet` would keep the map, and so every RDD. */
  private def persisted(sc: SparkContext): Set[Int] =
    sc.getPersistentRDDs.keysIterator.toSet

  /** The ids of the RDDs persisted while 30 searches ran, each read
    * while its page was live; no page survives. */
  private def searches(spark: SparkSession): Set[Int] = {
    import spark.implicits._
    val docs: DataFrame = (0 until 200).map(i =>
      (i.toLong, s"w${i % 7} w${i % 11} w${i % 13}")).toDF("doc_id", "text")
    val priors: DataFrame = (0 until 200).map(i => (i.toLong, i * 0.001))
      .toDF("doc_id", "prior")
    (0 until 30).map { i =>
      val q = if (i % 3 == 2) "\"w1 w1\"" else s"w${i % 7} w${i % 5}"
      val page = Search.search(docs, priors, q, offset = i % 2 * 10)
      require(page.rows.collect().length <= 10 && page.total >= 0)
      persisted(spark.sparkContext)
    }.reduce(_ ++ _)
  }
}
