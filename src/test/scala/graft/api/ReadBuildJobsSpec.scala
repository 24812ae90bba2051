package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.{BuildJobs, SparkSpec}
import graft.store.Versioned

/** Building a versioned read is driver-side metadata work only: the
  * snapshot, the sidecar probes and the scan schema (one footer read)
  * run no Spark job, so a point or range read pays its jobs when it
  * executes, not while it is built. */
class ReadBuildJobsSpec extends SparkSpec {

  private lazy val root: String = {
    val r = graft.util.TempDirs.scratch("graft_build_jobs")
    Versioned.commitAppend(spark.range(200).toDF("src")
      .withColumn("ts", col("src") * 10L)
      .withColumn("url", concat(lit("http://h/"), col("src").cast("string"))),
      r, statsCols = Seq("src", "ts", "url"), bloomCols = Seq("src", "url"),
      maxRecordsPerFile = 50L)
    r
  }

  /** Build `read` under the job guard; returns the built frame. */
  private def builtWithoutJobs(what: String)(read: => DataFrame)
      : DataFrame = {
    var df: DataFrame = null
    val jobs = BuildJobs.during(spark, "graft.readbuildjobs") { df = read }
    assert(jobs.isEmpty, s"building $what launched jobs: $jobs")
    df
  }

  private def reads(): Seq[(String, () => DataFrame)] = Seq(
    "Engine.lookupKey" -> (() => Engine.lookupKey(spark, root, "http://h/7")),
    "Engine.lookup" -> (() => Engine.lookup(spark, root, 7L)),
    "Engine.scanRange" -> (() => Engine.scanRange(spark, root, 5L, 20L, 1000L)),
    "Versioned.read" -> (() => Versioned.read(spark, root).filter(col("src") === 7L)),
    "format(graft).load" -> (() =>
      spark.read.format("graft").load(root).filter(col("src") === 7L)))

  test("point, range, versioned and format(graft) reads build with no " +
      "Spark job") {
    assert(Versioned.files(root).count(_.contains("/data/")) >= 4)
    val expected = Map("Engine.scanRange" -> 15L).withDefaultValue(1L)
    reads().foreach { case (what, read) =>
      val df = builtWithoutJobs(what)(read())
      assert(df.count() == expected(what), what)
    }
  }

  test("reads over a deletion-vector table build with no Spark job") {
    val dvRoot = graft.util.TempDirs.scratch("graft_build_jobs_dv")
    Versioned.commitAppend(spark.range(100).toDF("src")
      .withColumn("ts", col("src") * 10L), dvRoot,
      statsCols = Seq("src", "ts"), bloomCols = Seq("src"),
      maxRecordsPerFile = 25L)
    Versioned.commitDeleteVectors(spark, dvRoot, col("src") === 7L)
    val lookup = builtWithoutJobs("Engine.lookup over tombstones")(
      Engine.lookup(spark, dvRoot, 7L))
    assert(lookup.count() == 0L)
    val all = builtWithoutJobs("Versioned.read over tombstones")(
      Versioned.read(spark, dvRoot))
    assert(all.count() == 99L)
  }
}
