package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated testdata tables (TESTDATA.md).
  *
  * All tables are plain parquet. `events.ts` has been written two ways across
  * testdata generations:
  *
  *   - parquet `TIMESTAMP(NANOS)` — Spark's vectorized reader rejects it
  *     unless `spark.sql.legacy.parquet.nanosAsLong=true`, under which it
  *     resolves as a LongType of ns-since-epoch;
  *   - parquet `TIMESTAMP(isAdjustedToUTC=false, MICROS)` — resolves as
  *     TIMESTAMP_NTZ (the `nanosAsLong` conf is a no-op on micros).
  *
  * The whole engine works on integral ns-since-epoch (exact, engine-portable,
  * matches the DuckDB oracles' `epoch_us(ts)` µs exchange), so [[read]]
  * normalizes either encoding to a LongType ns column named `ts`. The session
  * timezone is pinned to UTC so the NTZ wall-clock → instant conversion is the
  * identity the oracles assume (DuckDB's `epoch_us` on a naive TIMESTAMP is
  * UTC-based).
  *
  * Event-time literal pushdown ([[plans.TsLiteralPushdown]]) is installed by
  * [[plans.GraftExtensions]] at session BUILD time (`withExtensions` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`) — every entry
  * point in this library builds its session that way, so a user session gets
  * the rule before any table is read.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val log = org.apache.logging.log4j.LogManager.getLogger(
    "graft.Tables")

  // Sessions already warned about a missing TsLiteralPushdown rule
  // (weak keys: never pins a stopped session in memory).
  private val pushdownWarned =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  // Analyzed-relation cache — what a catalog table gives for free.
  // `spark.read.parquet` pays a footer read + schema resolution PER
  // CALL (~55 ms warm), and a session that runs many queries over the
  // same immutable tables re-pays it every time. The cache key carries
  // the path's (file count, newest mtime, total length) over every file
  // at or below it, so a rewritten path resolves a FRESH relation
  // (metadata cache with stat-based invalidation, not result caching:
  // the DataFrame is a logical plan — every action still reads the
  // parquet bytes). A directory's own stats are not enough: its length
  // is 0 and its mtime stays put when a part file is rewritten in
  // place. Weak keys alone cannot free a session here — each cached
  // DataFrame references its session, so the key stays reachable — so
  // a session's entries are dropped when its SparkContext stops.
  private val relCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Long),
          DataFrame]]())

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Session-level (safe to set repeatedly); nanosAsLong must be set before
    // the schema of a NANOS-era events.parquet is resolved, and UTC must be
    // pinned before any NTZ → instant conversion below.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // One-time perf warning per session: without GraftExtensions the
    // event-time literal pushdown rule is absent, so ts-range scans on
    // events lose parquet row-group skipping — correct results, full
    // scans. (Self-registration was removed deliberately; see class doc.)
    if (!spark.sessionState.optimizer.extendedOperatorOptimizationRules
          .contains(plans.TsLiteralPushdown)
        && pushdownWarned.add(spark))
      log.warn(
        "TsLiteralPushdown is not installed in this " +
        "session - event-time range scans will not prune parquet row " +
        "groups. Build the session with .withExtensions(new " +
        "graft.plans.GraftExtensions) or --conf spark.sql.extensions=" +
        "graft.plans.GraftExtensions.")
    val p = s"$dir/$name.parquet"
    def resolve(): DataFrame = {
      val df = spark.read.parquet(p)
      if (name == "events") normalizeTs(df) else df
    }
    // list the files at or below the path (one recursive listing);
    // unlistable paths skip the cache so spark.read surfaces its usual
    // missing-path error
    val key = try {
      val hp = new org.apache.hadoop.fs.Path(p)
      val it = hp.getFileSystem(spark.sessionState.newHadoopConf())
        .listFiles(hp, true)
      var (files, mtime, len) = (0L, 0L, 0L)
      while (it.hasNext) {
        val f = it.next()
        files += 1
        mtime = math.max(mtime, f.getModificationTime)
        len += f.getLen
      }
      Some((p, files, mtime, len))
    } catch { case _: java.io.IOException => None }
    key match {
      case None => resolve()
      case Some(k) =>
        relCache.computeIfAbsent(spark, s => {
          releaseOnStop(s.sparkContext)
          new java.util.concurrent.ConcurrentHashMap()
        }).computeIfAbsent(k, _ => resolve())
    }
  }

  private def releaseOnStop(sc: org.apache.spark.SparkContext): Unit =
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onApplicationEnd(
          e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
        relCache.keySet.removeIf(_.sparkContext eq sc)
    })

  /** Normalize `ts` to ns-since-epoch LONG regardless of how the parquet
    * writer encoded it (see class doc). Column order is preserved.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // NANOS-era data via nanosAsLong: already ns
      case TimestampType | TimestampNTZType =>
        // NTZ → LTZ cast interprets the wall-clock in the (UTC-pinned)
        // session zone, so unix_micros yields the same µs the oracle's
        // epoch_us(ts) produces; scale back up to ns.
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts resolved as unsupported type $other; expected ns LONG or a timestamp type")
    }

  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = read(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
