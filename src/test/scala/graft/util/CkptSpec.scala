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

  private def leaf(f: DataFrame): LogicalRDD = f.queryExecution.analyzed
    .collectFirst { case l: LogicalRDD => l }.get

  test("a generation plans like the stock checkpoint: the origin's " +
      "statistics and output layout carry over") {
    def size(f: DataFrame) = f.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size(Ckpt.generation(grouped).frame) ==
      size(grouped.localCheckpoint(eager = false)))
    // the layout is compared with AQE off: under AQE the stock
    // checkpoint reports none (the layout pin below)
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val g = grouped
      val stock = leaf(g.localCheckpoint(eager = false))
      val gen = leaf(Ckpt.generation(g).frame)
      assert(gen.outputPartitioning == stock.outputPartitioning)
      assert(gen.outputOrdering == stock.outputOrdering)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevA)
  }

  test("the default leaf estimate replaces the origin's statistics only " +
      "when asked") {
    def size(l: LogicalRDD) = l.computeStats().sizeInBytes
    assert(size(leaf(Ckpt.store(grouped, originStats = false))) ==
      BigInt(spark.sessionState.conf.defaultSizeInBytes))
    assert(size(leaf(Ckpt.store(grouped))) ==
      grouped.queryExecution.optimizedPlan.stats.sizeInBytes)
  }

  test("under AQE a generation keeps the layout its final plan ran " +
      "with: hash partitioned and sorted by the key") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val keyed = spark.range(0L, 1000L, 1L, 4)
      .select((col("id") % 10).as("k"), col("id"))
    def layout(df: DataFrame) = {
      val l = leaf(Ckpt.generation(df.sortWithinPartitions("k")).frame)
      val k = l.output.find(_.name == "k").get
      assert(l.outputOrdering.map(_.child) == Seq(k))
      assert(l.outputOrdering.forall(_.isAscending))
      assert(l.outputPartitioning.numPartitions == l.rdd.getNumPartitions)
      (l.outputPartitioning, k)
    }
    // a numbered repartition is never coalesced
    layout(keyed.repartition(4, col("k"))) match {
      case (HashPartitioning(Seq(k1), 4), k) => assert(k1 == k)
      case (other, _) => fail(s"not hash partitioned by k: $other")
    }
    // 8 tiny shuffle partitions, which AQE coalesces: a coalesced read
    // co-partitions with nothing, so the leaf reports no partitioning
    val prevP = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try assert(!layout(keyed.repartition(col("k")))._1
      .isInstanceOf[HashPartitioning])
    finally spark.conf.set("spark.sql.shuffle.partitions", prevP)
  }

  test("generations whose shuffle reads coalesced differently still " +
      "join exactly") {
    // skewed: most rows under one key, so AQE coalesces the two reads
    // with different boundaries
    def keyed(n: Long, mod: Int) = spark.range(0L, n, 1L, 4)
      .select(when(col("id") % 7 === 0, col("id") % mod).otherwise(lit(0L))
        .as("k"), col("id").as(s"v$mod"))
      .repartition(col("k"))
    val a = Ckpt.generation(keyed(20000L, 50)).frame
    val b = Ckpt.generation(keyed(3000L, 13)).frame
    val got = a.join(b, "k").count()
    val want = a.groupBy("k").count().withColumnRenamed("count", "ca")
      .join(b.groupBy("k").count().withColumnRenamed("count", "cb"), "k")
      .agg(sum(col("ca") * col("cb"))).first().getLong(0)
    assert(got == want && want > 0)
  }
}
