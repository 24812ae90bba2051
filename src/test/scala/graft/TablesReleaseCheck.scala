package graft

import org.apache.spark.sql.SparkSession

/** Child-JVM half of TablesSpec's stopped-session check (a test JVM
  * shares one SparkContext across suites, so the stop has to happen in
  * a process of its own): caches a relation through [[Tables.read]],
  * stops the session, drops every reference to it and prints
  * "released" once a GC clears a weak reference to it, else "pinned".
  * Args: a directory holding `docs.parquet`. */
object TablesReleaseCheck {
  def main(args: Array[String]): Unit = {
    // Hadoop starts its FileSystem statistics cleaner thread on first
    // use, and that thread inherits the creating thread's active
    // session for life; start it before any session exists so the
    // check sees only what the relation cache holds
    org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val ref = cacheAndStop(args(0))
    val released = (1 to 50).exists { _ =>
      System.gc(); Thread.sleep(100); ref.get == null
    }
    println(if (released) "released" else "pinned")
  }

  private def cacheAndStop(dir: String)
      : java.lang.ref.WeakReference[SparkSession] = {
    val spark = Session.local(1)
    require(Tables.read(spark, dir, "docs") eq
      Tables.read(spark, dir, "docs"), "relation not cached")
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    new java.lang.ref.WeakReference(spark)
  }
}
