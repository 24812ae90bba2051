package graft.util

import graft.{BuildJobs, SparkSpec}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class CkptSpec extends SparkSpec {

  private def leafRdd(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .get

  // a shuffle, so that building the frame under AQE runs a stage
  private def grouped: DataFrame =
    spark.range(0L, 100L, 1L, 4).groupBy((col("id") % 10).as("k"))
      .agg(sum("id").as("s"))

  test("a lazy localCheckpoint is checkpointed by the first job that " +
      "reads it; a generation is not, until truncate") {
    // the stock checkpoint is cut on whichever thread runs that job
    // (a broadcast job's, in a loop), which can deadlock the scheduler
    val stock = grouped.localCheckpoint(eager = false)
    stock.count()
    assert(leafRdd(stock).isCheckpointed)

    val g = Ckpt.generation(grouped)
    val rdd = leafRdd(g.frame)
    assert(rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    val want = g.frame.collect().toSet
    assert(!rdd.isCheckpointed)
    // every partition is stored, so cutting the lineage runs no job
    val jobs = BuildJobs.during(spark, "graft.ckpt.truncate") {
      g.truncate()
    }
    assert(jobs.isEmpty, s"jobs $jobs")
    assert(rdd.isCheckpointed)
    assert(g.frame.collect().toSet == want)
    assert(want.size == 10)
  }

  test("truncating a generation no job has read computes it first") {
    val g = Ckpt.generation(grouped)
    g.truncate()
    assert(leafRdd(g.frame).isCheckpointed)
    assert(g.frame.agg(sum("s")).first().getLong(0) == (0L until 100L).sum)
  }

  test("a generation plans like the stock checkpoint: the origin's " +
      "statistics and output layout carry over") {
    val stock = grouped.localCheckpoint(eager = false)
    val gen = Ckpt.generation(grouped).frame
    def leaf(f: DataFrame) = f.queryExecution.analyzed
      .collectFirst { case l: LogicalRDD => l }.get
    assert(leaf(gen).outputPartitioning == leaf(stock).outputPartitioning)
    assert(leaf(gen).outputOrdering == leaf(stock).outputOrdering)
    def size(f: DataFrame) = f.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size(gen) == size(stock))
  }
}
