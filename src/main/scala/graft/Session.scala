package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Bench, Verify, ScaleCanary,
  * Demo, `tools.Prof` and the test suite all run the engine configured
  * here, so the engine the oracle checks, the specs test and the board
  * times is the same one. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE's byte-targeted coalescing (default floor 1 MB) is sized for
      // shuffle-IO-bound stages. The iterative loops' small V-sized
      // exchanges and the dedup/text band's post-shuffle stages are
      // CPU-bound per ROW (shingle hashing, edit distance): a 1 MB
      // exchange collapsing to 1-2 tasks serializes them on a 32-core
      // host (measured at 64k vs 256k: q77 5.5 -> 4.5 s, q63 5.3 ->
      // 4.5 s, loop band unchanged; OPTIMIZATION_r14.md). At production
      // shuffle sizes this floor is never the binding constraint.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "64k")
      // file:// without fork-per-file chmods or .crc sidecars (see
      // graft.util.FastLocalFileSystem): a JFR capture counted 286
      // forked `chmod` processes in ONE store-band query via Hadoop's
      // Shell fallback (no libhadoop). Scheme-scoped: hdfs:// and s3a://
      // tables are untouched.
      .config("spark.hadoop.fs.file.impl", "graft.util.FastLocalFileSystem")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Logs.quietExpected()
    spark
  }
}
