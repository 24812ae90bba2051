package graft.util

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator

/** Log hygiene for every [[graft.Session]]: suppress warnings that are
  * expected BY DESIGN, so real plan regressions stand out in bench,
  * verify and test output. */
object Logs {

  /** `Search.paginate` runs a partitionless row_number window on
    * purpose: a `limit(offset+size)` executes FIRST, so the window only
    * ever sees one page-sized slice — never the corpus. WindowExec
    * cannot know that and warns "No Partition Defined" on every page;
    * dozens of identical lines per bench run drown actual warnings. */
  def quietExpected(): Unit = {
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    // Bench, Prof and ScaleCanary intentionally unpersist finished queries'
    // localCheckpoint blocks (they are invisible to clearCache); Spark
    // warns "lineage has been truncated and cannot be recomputed" per
    // RDD, which is precisely the intent — the result was consumed.
    Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
  }
}
