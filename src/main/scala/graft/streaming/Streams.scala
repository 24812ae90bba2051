package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface. The reference's "streaming" is a
  * periodic batch re-crawl (`monolith/service/crawler/crawler.go:50-76`)
  * plus gRPC result streams — here the faithful upgrade is an
  * incremental query over an append stream:
  *  - [[windowedCounts]]: watermarked tumbling-window aggregation (the
  *    canonical events rollup);
  *  - [[sessionize]]: per-key session building with
  *    `flatMapGroupsWithState` (custom state, the BSP-mailbox analogue);
  *  - [[crawlTrigger]]: the crawl cadence as a `Trigger.ProcessingTime`
  *    query would drive `Crawl.pass` via `foreachBatch`.
  */
object Streams {

  /** Tumbling-window event counts with a watermark: late rows beyond
    * `lateness` are dropped, state is bounded — the 100 TB-safe shape. */
  def windowedCounts(events: DataFrame, windowDur: String = "1 hour",
                     lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"))

  /** `ts` drives the watermark (ms resolution is all Spark needs);
    * `tsUs` carries the full microsecond event time so session stats
    * are exact — the source data has sub-millisecond precision. */
  final case class Click(userId: Long, ts: java.sql.Timestamp, tsUs: Long)
  final case class Session(userId: Long, nEvents: Int, startUs: Long,
                           endUs: Long)

  /** Session windows via custom state: a session closes after `gapUs`
    * microseconds of event-time inactivity. Event-time timeouts (not
    * processing time) keep the query deterministic and replayable — the
    * watermark, not the wall clock, fires session expiry, and state
    * stays bounded by the watermark delay (one open session per key).
    *
    * Gap splitting happens INSIDE the merge too: a batch whose rows
    * already straddle a gap emits the completed sessions immediately
    * instead of fusing everything that arrived together into one
    * session. That makes the result independent of how the input is
    * batched — an all-in-one-batch replay produces exactly the batch
    * (lag + conditional cumsum) sessionization, which is what the
    * q43 driver check asserts against the q36 oracle. */
  def sessionize(clicks: org.apache.spark.sql.Dataset[Click],
                 gapUs: Long): org.apache.spark.sql.Dataset[Session] = {
    import clicks.sparkSession.implicits._
    val gapMsCeil = (gapUs + 999) / 1000
    clicks.withWatermark("ts", s"$gapMsCeil milliseconds")
      .groupByKey(_.userId)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Click],
         state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.iterator
            state.remove()
            out
          } else {
            val times = rows.map(_.tsUs).toArray
            if (times.isEmpty) Iterator.empty
            else {
              java.util.Arrays.sort(times)
              val done = new scala.collection.mutable.ArrayBuffer[Session]()
              var cur = state.getOption.orNull
              times.foreach { t =>
                if (cur == null) cur = Session(userId, 1, t, t)
                else if (t - cur.endUs > gapUs) {
                  done += cur
                  cur = Session(userId, 1, t, t)
                } else cur = Session(userId, cur.nEvents + 1,
                  math.min(cur.startUs, t), math.max(cur.endUs, t))
              }
              state.update(cur)
              // +1ms: the ceil'd ms timeout must sit strictly past the
              // µs session end or a gap-boundary event could be split
              // off by an early timeout between batches.
              state.setTimeoutTimestamp(cur.endUs / 1000 + gapMsCeil + 1)
              done.iterator
            }
          }
      }
  }

  /** Batch ≡ stream parity surface (q43): replay the events table
    * through a REAL file-source streaming run of [[sessionize]] —
    * stage the projected clicks as a parquet file, stream it, flush the
    * final open sessions by staging far-future sentinel rows that
    * advance the watermark past every real timeout, and return the
    * per-session stats numbered exactly like the batch q36 query so the
    * driver can hash-compare both against the same DuckDB oracle.
    *
    * Two sentinel ticks: the watermark only reflects a batch after it
    * completes, so tick 1 raises it past every real session's timeout
    * and tick 2 triggers the state round that fires them. */
  /** File-source replay scaffolding shared by the parity surfaces:
    * stage `real` as one parquet file, start the query `build`
    * constructs over the staged directory, then append two sentinel
    * ticks (watermark reflects a batch only after it completes — tick 1
    * raises it past every real timeout/window, tick 2 triggers the
    * round that fires them) and return the parquet the query's
    * foreachBatch appended. */
  private def replayThroughFiles(
      real: DataFrame, sentinel: Int => DataFrame, schema: String,
      build: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery)
      : DataFrame =
    replayBatches(Seq(real), sentinel, schema, build)

  /** Multi-batch variant: each element of `reals` is staged and fully
    * processed as its own micro-batch generation before the next is
    * added — the watermark visible to batch k+1 is the one batch k
    * finalized, which is what late-arrival semantics (q172) need a
    * deterministic handle on. */
  private def replayBatches(
      reals: Seq[DataFrame], sentinel: Int => DataFrame, schema: String,
      build: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery)
      : DataFrame = {
    val spark = reals.head.sparkSession
    val stage = java.nio.file.Paths.get(graft.util.TempDirs.scratch("replay_stage"))
    val outDir = graft.util.TempDirs.scratch("replay_out")

    // A streaming query's stateful-operator partition count is frozen
    // from spark.sql.shuffle.partitions at query start (AQE never
    // re-plans micro-batches), and EVERY micro-batch then runs that many
    // state-store tasks — commit, snapshot and all. The batch-side
    // default (≈ one per core) is the wrong size for a replay with a
    // handful of micro-batches: scope it down while the stream runs. In
    // production the state partition count is sized to key cardinality ×
    // throughput, not inherited from the batch default — same principle.
    def addFile(df: DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(graft.util.TempDirs.scratch("replay_add"))
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(p, stage.resolve(name))
          moved = true
        }
      }
      require(moved, s"no parquet part produced for $name")
    }

    addFile(reals.head, "00-real.parquet")
    val src = spark.readStream.schema(schema).parquet(stage.toString)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = build(src, outDir)
      try {
        q.processAllAvailable()
        reals.tail.zipWithIndex.foreach { case (df, i) =>
          addFile(df, f"${i + 1}%02d-real.parquet")
          q.processAllAvailable()
        }
        val s0 = reals.size
        addFile(sentinel(1), f"$s0%02d-sentinel.parquet")
        q.processAllAvailable()
        addFile(sentinel(2), f"${s0 + 1}%02d-sentinel.parquet")
        q.processAllAvailable()
      } finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    spark.read.parquet(outDir)
  }

  private def ckptDir(): String =
    graft.util.TempDirs.scratch("replay_ckpt")

  def sessionizeReplay(events: DataFrame, gapUs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val clicks = events.select(
      col("user_id").as("userId"),
      timestamp_micros(expr("ts div 1000")).as("ts"),
      expr("ts div 1000").as("tsUs"))
    val maxUs = events.agg(max(expr("ts div 1000"))).first().getLong(0)
    def sentinel(n: Int): DataFrame = {
      val us = maxUs + n * 10L * gapUs
      Seq((-1L, us)).toDF("userId", "us")
        .select(col("userId"), timestamp_micros(col("us")).as("ts"),
          col("us").as("tsUs"))
    }

    val sessions = replayThroughFiles(clicks, sentinel,
      "userId BIGINT, ts TIMESTAMP, tsUs BIGINT",
      (src, outDir) => sessionize(src.as[Click], gapUs).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckptDir())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Session],
                         _: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .start())

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("start_us")
    sessions
      .filter(col("userId") >= 0)
      .select(col("userId").as("user_id"),
        col("nEvents").cast("long").as("n_events"),
        col("startUs").as("start_us"), col("endUs").as("end_us"))
      .withColumn("sess_no", row_number().over(w).cast("long"))
      .select("user_id", "sess_no", "n_events", "start_us", "end_us")
  }

  /** Batch ≡ stream parity for [[windowedCounts]] (q44): replay the
    * events table through a file-source streaming run of the
    * watermarked tumbling-window rollup; finalized windows (Append
    * mode) must equal the batch GROUP BY. */
  def windowedCountsReplay(events: DataFrame, windowDur: String,
                           lateness: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(
      timestamp_micros(expr("ts div 1000")).as("ts"),
      col("event_type"))
    val maxUs = events.agg(max(expr("ts div 1000"))).first().getLong(0)
    // Two days clears any sane window + lateness combination here.
    def sentinel(n: Int): DataFrame =
      Seq(maxUs + n * 2L * 86400L * 1000000L).toDF("us")
        .select(timestamp_micros(col("us")).as("ts"),
          lit("__sentinel").as("event_type"))

    val wins = replayThroughFiles(rows, sentinel,
      "ts TIMESTAMP, event_type STRING",
      (src, outDir) => windowedCounts(src, windowDur, lateness)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckptDir())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .start())

    wins.filter(col("event_type") =!= "__sentinel")
      .select(unix_micros(col("win_start")).as("win_start_us"),
        col("event_type"), col("cnt"))
  }

  /** Checkpoint-restart recovery (q208): [[windowedCountsReplay]]'s
    * rollup, but the streaming query is STOPPED after the first
    * micro-batch and a brand-new query object is rebuilt over the SAME
    * `checkpointLocation` to finish the replay — the recovery path
    * every long-running production stream exercises on deploy or crash
    * (the reference's crawl loop is restart-safe the same way: each
    * pass re-scans from durable store state,
    * monolith/service/crawler/crawler.go:50-76).
    *
    * What incarnation 2 must prove: it resumes from the OFFSET LOG
    * (never re-reads batch 0 — the foreachBatch parquet sink would
    * double-append) and from the STATE STORE (batch 0's partial window
    * counts must survive the query-object boundary, or windows
    * straddling the split undercount). The real rows split at the
    * timestamp midpoint, so batch 1 carries nothing behind the
    * watermark batch 0 set — finalized output must therefore equal the
    * uninterrupted replay, and hence q44's batch GROUP BY oracle.
    */
  def windowedCountsRestartReplay(events: DataFrame, windowDur: String,
                                  lateness: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(
      timestamp_micros(expr("ts div 1000")).as("ts"),
      col("event_type"))
    val mm = events.agg(min(expr("ts div 1000")), max(expr("ts div 1000")))
      .first()
    val (minUs, maxUs) = (mm.getLong(0), mm.getLong(1))
    val midUs = minUs + (maxUs - minUs) / 2
    def sentinel(n: Int): DataFrame =
      Seq(maxUs + n * 2L * 86400L * 1000000L).toDF("us")
        .select(timestamp_micros(col("us")).as("ts"),
          lit("__sentinel").as("event_type"))

    val stage = java.nio.file.Paths.get(graft.util.TempDirs.scratch("restart_stage"))
    val outDir = graft.util.TempDirs.scratch("restart_out")
    val ckpt = graft.util.TempDirs.scratch("restart_ckpt")
    def addFile(df: DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(graft.util.TempDirs.scratch("restart_add"))
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(p, stage.resolve(name))
          moved = true
        }
      }
      require(moved, s"no parquet part produced for $name")
    }
    // Both incarnations are built from this one recipe — the production
    // invariant restart recovery depends on: same source, same plan,
    // same checkpoint.
    def incarnation(): org.apache.spark.sql.streaming.StreamingQuery =
      windowedCounts(
          spark.readStream.schema("ts TIMESTAMP, event_type STRING")
            .parquet(stage.toString),
          windowDur, lateness)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .start()

    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      addFile(rows.filter(unix_micros(col("ts")) <= midUs),
        "00-real.parquet")
      val q1 = incarnation()
      try q1.processAllAvailable() finally q1.stop()
      // --- process boundary: offset log + state store are all that
      // --- survives into the second incarnation.
      addFile(rows.filter(unix_micros(col("ts")) > midUs),
        "01-real.parquet")
      val q2 = incarnation()
      try {
        q2.processAllAvailable()
        addFile(sentinel(1), "02-sentinel.parquet")
        q2.processAllAvailable()
        addFile(sentinel(2), "03-sentinel.parquet")
        q2.processAllAvailable()
      } finally q2.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)

    spark.read.parquet(outDir)
      .filter(col("event_type") =!= "__sentinel")
      .select(unix_micros(col("win_start")).as("win_start_us"),
        col("event_type"), col("cnt"))
  }

  /** Watermark LATE-DATA semantics made deterministic (q172): the events
    * table replays as two micro-batches — batch 1 is the "on-time" flow
    * (everything before `splitUs` except each 7th event), batch 2 mixes
    * the post-split flow with those held-back stragglers. After batch 1
    * the watermark stands at max(batch-1 event time) − `delay`, so a
    * straggler survives iff its day-window still ends above that line —
    * Spark drops the rest before they reach state. The oracle can
    * recompute the same watermark from the same split rule, making
    * "which late rows were dropped" an exactly checkable, not just
    * observable, property.
    *
    * Returns finalized daily counts per event type over the surviving
    * rows. At scale this is the canonical ingest topology: a reordering
    * transport in front of a windowed rollup, where the lateness budget
    * (`delay`) IS the correctness/latency trade and needs tests pinning
    * exactly what it drops. */
  def lateDropReplay(events: DataFrame, splitUs: Long,
                     delay: String = "2 days"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(
      timestamp_micros(expr("ts div 1000")).as("ts"),
      col("event_type"), col("event_id"))
    val onTime = rows.filter(col("ts") < timestamp_micros(lit(splitUs)) &&
      col("event_id") % 7 =!= 0)
    val lateMix = rows.filter(col("ts") >= timestamp_micros(lit(splitUs)) ||
      col("event_id") % 7 === 0)
    val maxUs = events.agg(max(expr("ts div 1000"))).first().getLong(0)
    def sentinel(n: Int): DataFrame =
      Seq(maxUs + n * 4L * 86400L * 1000000L).toDF("us")
        .select(timestamp_micros(col("us")).as("ts"),
          lit("__sentinel").as("event_type"), lit(-1L).as("event_id"))

    val wins = replayBatches(Seq(onTime, lateMix), sentinel,
      "ts TIMESTAMP, event_type STRING, event_id BIGINT",
      (src, outDir) => src
        .withWatermark("ts", delay)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .count()
        .select(col("window.start").as("day_start"), col("event_type"),
          col("count").as("cnt"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckptDir())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .start())

    wins.filter(col("event_type") =!= "__sentinel")
      .select(unix_micros(col("day_start")).as("day_us"),
        col("event_type"), col("cnt"))
  }

  /** Batch ≡ stream parity for streaming deduplication (q51): replay
    * the events table through `dropDuplicatesWithinWatermark` — the
    * bounded-state streaming dedup (state for a key is evicted once the
    * watermark passes its event time + delay, unlike classic
    * `dropDuplicates`, whose key state grows forever). First-occurrence
    * emission means the surviving row set is exactly the DISTINCT key
    * set, which is the oracle. */
  def dedupReplay(events: DataFrame, delay: String = "1 hour"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(
      timestamp_micros(expr("ts div 1000")).as("ts"),
      col("user_id"), col("event_type"))
    val maxUs = events.agg(max(expr("ts div 1000"))).first().getLong(0)
    def sentinel(n: Int): DataFrame =
      Seq(maxUs + n * 2L * 86400L * 1000000L).toDF("us")
        .select(timestamp_micros(col("us")).as("ts"),
          lit(-1L).as("user_id"), lit("__sentinel").as("event_type"))

    val out = replayThroughFiles(rows, sentinel,
      "ts TIMESTAMP, user_id BIGINT, event_type STRING",
      (src, outDir) => src
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckptDir())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .start())
    out.filter(col("user_id") >= 0).select("user_id", "event_type")
  }

  /** Batch ≡ stream parity for a STREAM-STREAM interval join (q74):
    * every click joined to the same user's purchases within the
    * following `windowSec` seconds. Both sides are watermarked filtered
    * branches of ONE file source (a streaming self-join); the interval
    * condition on the two event-time columns is what lets Spark bound
    * the join state — click state drops once the watermark passes
    * c_ts + window, purchase state once it passes p_ts. Inner joins
    * emit as soon as both rows have arrived (no watermark wait), so the
    * sentinel ticks exercise state eviction, not emission. Timestamps
    * are µs-resolution on both the join condition and the output, so
    * the batch SQL twin compares exactly. */
  def intervalJoinReplay(events: DataFrame,
                         windowSec: Long = 3600L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(
      timestamp_micros(expr("ts div 1000")).as("ts"),
      expr("ts div 1000").as("ts_us"),
      col("user_id"), col("event_type"), col("event_id"))
    val maxUs = events.agg(max(expr("ts div 1000"))).first().getLong(0)
    def sentinel(n: Int): DataFrame =
      Seq(maxUs + n * 2L * 86400L * 1000000L).toDF("us")
        .select(timestamp_micros(col("us")).as("ts"),
          col("us").as("ts_us"), lit(-1L).as("user_id"),
          lit("__sentinel").as("event_type"), lit(-1L).as("event_id"))

    val out = replayThroughFiles(rows, sentinel,
      "ts TIMESTAMP, ts_us BIGINT, user_id BIGINT, " +
        "event_type STRING, event_id BIGINT",
      (src, outDir) => {
        val clicks = src.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"),
            col("ts_us").as("c_us"), col("event_id").as("c_event"))
          .withWatermark("c_ts", "1 minute")
        val purch = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("ts_us").as("p_us"), col("event_id").as("p_event"))
          .withWatermark("p_ts", "1 minute")
        clicks.join(purch,
            col("user_id") === col("p_user") &&
              col("p_ts") >= col("c_ts") &&
              col("p_ts") <= col("c_ts") +
                expr(s"INTERVAL $windowSec SECONDS"))
          .select(col("user_id"), col("c_event"), col("p_event"),
            col("c_us"), col("p_us"))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckptDir())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(outDir)
          }
          .start()
      })
    out.filter(col("user_id") >= 0)
  }

  /** The crawl loop as a streaming query skeleton: rate source ticks,
    * `foreachBatch` runs one crawl pass per tick. Returned unstarted so
    * tests/callers own the lifecycle. */
  /** Batch ≡ stream parity for the HLL distinct sketch (q93): register
    * merge is MAX, so a complete-mode streaming max-aggregation over
    * (idx, rho) observations converges to EXACTLY the batch register
    * table whatever the micro-batch boundaries — the "sketches are
    * streaming-native" property, driver-checked. The replay feeds two
    * REAL micro-batches (hash-halves of the corpus) plus a sentinel
    * tick, so cross-batch state merging is genuinely exercised; the
    * final complete snapshot is returned sparse and finished by the
    * SHARED batch estimator ([[graft.sketch.Sketches.hllEstimate]]) —
    * one code path for the arithmetic on both sides of the parity. */
  def hllReplay(events: DataFrame, p: Int = 10): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val vals = events.select(col("user_id").cast("string").as("v"))
    val half = pmod(graft.dedup.Dedup.portableHash(col("v")), lit(2L))
    def sentinel(n: Int): DataFrame =
      if (n == 1) vals.filter(half === 1)
      else Seq("__sentinel").toDF("v")
    replayThroughFiles(vals.filter(half === 0), sentinel, "v STRING",
      (src, outDir) => graft.sketch.Sketches
        .hllObservations(src.filter(col("v") =!= "__sentinel"),
          col("v"), p)
        .groupBy("idx").agg(max("rho").as("rho"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckptDir())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(outDir)
        }
        .start())
  }

  /** [[hllReplay]]'s native-aggregate twin (q202): the same two-real-
    * micro-batch replay, but the sketch state lives INSIDE the
    * streaming aggregation as the `HllSketchAgg` register buffer (one
    * 1 KiB object in the state store, max-merged across batches by the
    * aggregate's own merge) instead of as (idx, rho) rows. Register
    * merge is max ⇒ the complete-mode snapshot after the final batch
    * is batch-identical, so the result shares q93's oracle — and
    * proves the TypedImperativeAggregate composes with incremental
    * execution, not just batch. */
  def hllNativeReplay(events: DataFrame, p: Int = 10): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val vals = events.select(col("user_id").cast("string").as("v"))
    val half = pmod(graft.dedup.Dedup.portableHash(col("v")), lit(2L))
    def sentinel(n: Int): DataFrame =
      if (n == 1) vals.filter(half === 1)
      else Seq("__sentinel").toDF("v")
    replayThroughFiles(vals.filter(half === 0), sentinel, "v STRING",
      (src, outDir) => src.filter(col("v") =!= "__sentinel")
        .agg(graft.functions.SketchFunctions
          .hllDistinct(col("v"), p).as("h"))
        .select(col("h.nonzero_regs"), col("h.zero_regs"),
          col("h.est_micros"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckptDir())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(outDir)
        }
        .start())
  }

  /** Batch ≡ stream parity for the STREAM-STATIC join (q141): replay
    * the events table (two REAL micro-batches, split by a portable row
    * hash so the join runs incrementally) against the static customer
    * dimension — the canonical streaming-enrichment shape: the static
    * side is planned per micro-batch as an ordinary broadcast join, no
    * state, no watermark needed on the join itself. The complete-mode
    * per-segment rollup snapshot after the final batch must equal the
    * batch join + GROUP BY. */
  def streamStaticJoinReplay(events: DataFrame,
                             dim: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(col("user_id"),
      graft.util.Exact.cents(col("value")).as("cents"),
      col("event_id"))
    val half = pmod(graft.dedup.Dedup.portableHash(
      col("event_id").cast("string")), lit(2L))
    def sentinel(n: Int): DataFrame =
      if (n == 1) rows.filter(half === 1).drop("event_id")
      else Seq((-1L, 0L)).toDF("user_id", "cents")
    val statics = broadcast(dim.select(col("c_custkey").as("user_id"),
      col("c_mktsegment").as("segment")))
    replayThroughFiles(rows.filter(half === 0).drop("event_id"), sentinel,
      "user_id BIGINT, cents BIGINT",
      (src, outDir) => src
        .join(statics, Seq("user_id")) // stream-static broadcast join
        .groupBy("segment")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("value_cents"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckptDir())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(outDir)
        }
        .start())
  }

  final case class Tick(userId: Long, cents: Long, tsUs: Long)
  final case class Running(userId: Long, nEvents: Long, sumCents: Long,
                           lastUs: Long)

  /** Streaming near-dup ADMISSION CONTROL — the in-flight ingest gate a
    * 100 TB corpus runs on arriving documents: each micro-batch's docs
    * are banded STATELESSLY (rowwise minhash — per-row array
    * expressions, so no streaming aggregation, no watermark, no state
    * store) and probed against the stored corpus's band index as a
    * stream-static equi-join on (band, sig); band-collision candidates
    * are exact-Jaccard verified per-row against the corpus's static
    * shingle arrays. The doc's own shingle array rides THROUGH the band
    * unpivot (`carry`) so the verify never needs a stream-stream join
    * back to the text. Emitted pairs = (corpus doc, arriving doc) with
    * J ≥ threshold — exactly the old×delta probe half of
    * [[graft.dedup.Dedup.incrementalNearDups]] (q206), which is what
    * the oracle checks. Same-band duplicate hits dedup inside
    * `foreachBatch` (each doc lives in exactly one micro-batch, so
    * per-batch distinct IS global distinct).
    *
    * Scale shape: per arriving doc the work is one array projection +
    * nBands index lookups + candidate-count verify rows; the corpus
    * never rescans and the stream holds zero state between batches —
    * admission cost tracks the DELTA, which is the q203-q207 incremental
    * posture extended to in-flight arrival. Mirrors the reference's
    * ingest-time frontier dedup (`monolith/partition/dedup` role). */
  def nearDupAdmissionReplay(oldDocs: DataFrame, deltaDocs: DataFrame,
                             shingleN: Int = 3, numHashes: Int = 12,
                             rowsPerBand: Int = 3,
                             threshold: Double = 0.5): DataFrame = {
    import graft.dedup.Dedup
    val spark = oldDocs.sparkSession
    import spark.implicits._
    // Static sides, built once and reused by every micro-batch plan —
    // scan-shaped (no join inside), so SQL-caching them costs no AQE.
    // In production these ARE the stored band table / array sidecar
    // (q206's bucketed-index posture); here they derive from oldDocs
    // because the oracle harness has no ambient store.
    val index = Dedup.lshBandsWide(
        Dedup.minHashesRowwise(oldDocs, shingleN, numHashes),
        rowsPerBand, numHashes, "doc_id")
      .select(col("band"), col("sig"), col("doc_id").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val oldArrs = Dedup.shingleArrays(oldDocs, shingleN)
      .select(col("doc_id").as("y"), col("sharr").as("arr_y"),
        col("sz").as("sz_y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // two real micro-batches prove batch-split invariance
    val halves = (0 to 1).map(h =>
      deltaDocs.filter(pmod(col("doc_id"), lit(2L)) === h))
    // sentinels: empty text → empty shingle array → null minhashes →
    // a sig no real corpus doc can carry; flows through and matches
    // nothing (no watermark to advance — the plan is stateless)
    def sentinel(n: Int): DataFrame =
      Seq((-n.toLong, "")).toDF("doc_id", "text")
    val out = replayBatches(halves, sentinel,
      "doc_id BIGINT, text STRING",
      (src, outDir) => {
        val arr = array_distinct(
          graft.text.Analyzer.shingles(col("text"), shingleN))
        val staged = src.select(col("doc_id"), arr.as("sharr"),
          size(arr).as("sz"), col("text"))
        val bands = Dedup.lshBandsWide(
          Dedup.minHashesRowwise(staged, shingleN, numHashes,
            carry = Seq("sharr", "sz")),
          rowsPerBand, numHashes, "doc_id", carry = Seq("sharr", "sz"))
        val verified = bands
          .join(index, Seq("band", "sig")) // stream-static probe
          .join(oldArrs, Seq("y"))         // stream-static arrays
          .withColumn("inter", size(array_intersect(col("sharr"),
            col("arr_y"))).cast("long"))
          .withColumn("jaccard", col("inter").cast("double") /
            (col("sz") + col("sz_y") - col("inter")).cast("double"))
          .filter(col("jaccard") >= threshold)
          .select(least(col("doc_id"), col("y")).as("a"),
            greatest(col("doc_id"), col("y")).as("b"), col("jaccard"))
        verified.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckptDir())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.distinct().write.mode("append").parquet(outDir)
          }
          .start()
      })
    index.unpersist(blocking = false)
    oldArrs.unpersist(blocking = false)
    out
  }

  /** Stored-index streaming admission — [[nearDupAdmissionReplay]] with
    * the index handoff CLOSED: the corpus's band table and shingle-array
    * sidecar are staged ONCE as bucketed external tables
    * ([[graft.dedup.Dedup.stageAdmissionIndex]], q205's warm-snapshot
    * discipline: mtime-guarded, re-registered metadata-only on later
    * sessions) and every micro-batch probes THOSE — so the timed plan is
    * probe-only: band the arrivals statelessly, equi-join the stored
    * band table on (band, sig) with the index side's distribution read
    * from the bucket layout (no corpus-sized exchange anywhere), and
    * exact-verify against the bucketed sidecar. This is the production
    * ingest gate at 100 TB: the corpus is banded once at rest, arrival
    * cost tracks the delta, and the probe's only shuffle is
    * delta-sized. Output contract identical to
    * [[nearDupAdmissionReplay]] (the old×delta slice). */
  def nearDupAdmissionStoredReplay(oldDocs: DataFrame,
                                   deltaDocs: DataFrame, tag: String,
                                   sourceMtime: Long, shingleN: Int = 3,
                                   numHashes: Int = 12,
                                   rowsPerBand: Int = 3,
                                   threshold: Double = 0.5): DataFrame = {
    import graft.dedup.Dedup
    val spark = oldDocs.sparkSession
    import spark.implicits._
    val (bandsT, arrsT) = Dedup.stageAdmissionIndex(oldDocs, tag,
      sourceMtime, shingleN, numHashes, rowsPerBand)
    val index = spark.table(bandsT)
    val arrs = spark.table(arrsT)
    val halves = (0 to 1).map(h =>
      deltaDocs.filter(pmod(col("doc_id"), lit(2L)) === h))
    def sentinel(n: Int): DataFrame =
      Seq((-n.toLong, "")).toDF("doc_id", "text")
    replayBatches(halves, sentinel, "doc_id BIGINT, text STRING",
      (src, outDir) =>
        Dedup.probeAdmissionIndex(index, arrs, src, shingleN,
            numHashes, rowsPerBand, threshold)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckptDir())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.distinct().write.mode("append").parquet(outDir)
          }
          .start())
  }

  /** DSIR importance scoring at ARRIVAL time (q224's scorer as an
    * ingest gate): the smoothed log-ratio model derives from the
    * AT-REST corpus only — vocabulary-sized and broadcast; in
    * production the stored model table — and an arriving doc pays one
    * token explode, one broadcast join, and a delta-sized sum. Zero
    * streaming state, no watermark: per-doc weights aggregate inside
    * `foreachBatch` (each doc lives in exactly one micro-batch, so the
    * per-batch sum IS the doc's weight). Tokens unseen in the corpus
    * vocabulary contribute 0 (inner join) — the hashed-feature DSIR
    * variant would bucket them; either way the model never grows with
    * the stream. Oracle = q224's weight algebra with the model pinned
    * to the old corpus, applied to the delta: scoring at arrival loses
    * nothing against batch rescoring. */
  def dsirAdmissionReplay(oldDocs: DataFrame, deltaDocs: DataFrame,
                          isTarget: org.apache.spark.sql.Column)
      : DataFrame = {
    val spark = oldDocs.sparkSession
    import spark.implicits._
    val lr = graft.ml.Dsir.logRatios(oldDocs, isTarget)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // split on doc_id div 10 parity, NOT doc_id parity: q234's delta
    // predicate (doc_id % 10 == 3) selects only odd ids, so an id-parity
    // split would leave one micro-batch empty and never exercise the
    // claimed batching-independence property across two REAL batches
    val halves = (0 to 1).map(h =>
      deltaDocs.filter(pmod(expr("doc_id div 10"), lit(2L)) === h))
    def sentinel(n: Int): DataFrame =
      Seq((-n.toLong, "")).toDF("doc_id", "text")
    val out = replayBatches(halves, sentinel,
      "doc_id BIGINT, text STRING",
      (src, outDir) => {
        val toks = src.select(col("doc_id"),
          explode(graft.text.Analyzer.tokenize(col("text")))
            .as("token"))
        toks.join(broadcast(lr), Seq("token"))
          .select(col("doc_id"), col("lr_micros"))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckptDir())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.groupBy("doc_id")
              .agg(sum(col("lr_micros")).as("weight_p6"))
              .write.mode("append").parquet(outDir)
          }
          .start()
      })
    lr.unpersist(blocking = false)
    out
  }

  /** EXACTLY-ONCE ingest into the versioned store: events stream in as
    * two real micro-batches and a `foreachBatch` sink commits each via
    * [[graft.store.Versioned.commitAppendTxn]] — and then, inside the
    * same firing, RE-DELIVERS the identical batch with the identical
    * batch id. That is precisely the at-least-once failure Structured
    * Streaming exposes (sink committed, crash before the checkpoint
    * advanced, batch replayed on restart); the store's manifest-level
    * (appId, batchId) transaction makes the redelivery a no-op, so the
    * final table holds every event exactly once — which the oracle's
    * plain batch aggregation over the input proves (any duplicate
    * would double the sums). Returns the committed snapshot. */
  def exactlyOnceIngestReplay(events: DataFrame, root: String)
      : DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(col("event_id").cast("string").as("event_id"),
      col("user_id"), graft.util.Exact.cents(col("value")).as("cents"))
    val half = pmod(graft.dedup.Dedup.portableHash(col("event_id")),
      lit(2L))
    val halves = (0 to 1).map(h => rows.filter(half === h))
    def sentinel(n: Int): DataFrame =
      Seq((s"__s$n", -1L, 0L)).toDF("event_id", "user_id", "cents")
    val harness = replayBatches(halves, sentinel,
      "event_id STRING, user_id BIGINT, cents BIGINT",
      (src, outDir) => src.writeStream
        .option("checkpointLocation", ckptDir())
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          val real = b.filter(col("user_id") >= 0)
          if (real.take(1).nonEmpty) {
            graft.store.Versioned.commitAppendTxn(real, root,
              "ingest", batchId)
            // redelivery of the SAME batch id — must be a no-op
            graft.store.Versioned.commitAppendTxn(real, root,
              "ingest", batchId)
          }
          Seq(batchId).toDF("batch_id")
            .write.mode("append").parquet(outDir)
        }
        .start())
    harness.queryExecution.toRdd.count() // drain harness bookkeeping
    graft.store.Versioned.read(spark, root)
  }

  /** Batch ≡ stream parity for `mapGroupsWithState` (q142): a per-user
    * running aggregate (event count, exact-cents value sum, last event
    * time) carried as explicit GroupState across two REAL micro-batches
    * — the unbounded-lifetime per-key state machine (running balances,
    * device counters) that `flatMapGroupsWithState` sessionization
    * bounds by timeout and this surface deliberately does not. Update
    * mode emits the refreshed state for every key seen in a batch; the
    * LAST emission per key (event counts are strictly monotone, so
    * argmax(n) selects it deterministically) must equal the batch
    * GROUP BY. */
  def runningTotalsReplay(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(col("user_id").as("userId"),
      graft.util.Exact.cents(col("value")).as("cents"),
      expr("ts div 1000").as("tsUs"),
      col("event_id"))
    val half = pmod(graft.dedup.Dedup.portableHash(
      col("event_id").cast("string")), lit(2L))
    def sentinel(n: Int): DataFrame =
      if (n == 1) rows.filter(half === 1).drop("event_id")
      else Seq((-1L, 0L, 0L)).toDF("userId", "cents", "tsUs")
    val out = replayThroughFiles(rows.filter(half === 0).drop("event_id"),
      sentinel, "userId BIGINT, cents BIGINT, tsUs BIGINT",
      (src, outDir) => src.as[Tick]
        .groupByKey(_.userId)
        .mapGroupsWithState[Running, Running](
          GroupStateTimeout.NoTimeout()) {
          (userId: Long, ticks: Iterator[Tick],
           state: GroupState[Running]) =>
            val prev = state.getOption
              .getOrElse(Running(userId, 0L, 0L, Long.MinValue))
            val next = ticks.foldLeft(prev) { (s, t) =>
              Running(userId, s.nEvents + 1, s.sumCents + t.cents,
                math.max(s.lastUs, t.tsUs))
            }
            state.update(next)
            next
        }
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckptDir())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Running],
                         _: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .start())
    out.filter(col("userId") >= 0)
      .groupBy(col("userId").as("user_id"))
      .agg(max(struct(col("nEvents"), col("sumCents"), col("lastUs")))
        .as("w"))
      .select(col("user_id"), col("w.nEvents").as("n_events"),
        col("w.sumCents").as("value_cents"), col("w.lastUs").as("last_us"))
  }

  def crawlTrigger(spark: SparkSession, intervalSec: Int)(
      passFn: Long => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(s"$intervalSec seconds"))
      .foreachBatch { (_: DataFrame, batchId: Long) => passFn(batchId) }

  /** The reference's crawl ORCHESTRATION cadence — a periodic pass over
    * the frontier (the monolith re-runs its crawl on an interval,
    * `monolith/main.go:94-97`) — driven as a `Trigger.ProcessingTime`
    * query whose every firing runs one [[graft.crawl.Crawl.pass]] and
    * commits the resulting document index to the versioned store:
    * "what did the index contain after pass k" becomes a PINNED version
    * number, re-readable verbatim while crawling keeps committing —
    * q212's reproducible-corpus posture applied to the crawl loop
    * itself. Links carry across passes keep-newest (discovered URLs
    * join the frontier and are fetched on the NEXT firing, the
    * reference's frontier-growth behavior); the committed index is the
    * keep-newest upsert of every pass's documents, overwrite-committed
    * so version k IS the index snapshot after pass k. Returns the
    * store's latest version (== passes run). */
  def crawlLoopVersioned(links0: DataFrame,
                         getter: graft.crawl.Crawl.UrlGetter,
                         docsRoot: String, passes: Int,
                         intervalSec: Int = 1): Long = {
    val spark = links0.sparkSession
    var links = graft.util.Ckpt.generation(links0).truncate()
    var docs: DataFrame = null
    val done = new java.util.concurrent.CountDownLatch(passes)
    val q = crawlTrigger(spark, intervalSec) { batchId =>
      if (done.getCount > 0) {
        val now = 42L + batchId
        val r = graft.crawl.Crawl.pass(links, getter,
          staleBefore = now, now = now)
        links = graft.util.Ckpt.generation(r.links).truncate()
        docs = graft.util.Ckpt.generation(
          if (docs == null) r.documents
          else graft.store.StoreOps.latestByKey(
            docs.unionByName(r.documents), Seq("link_id"), "indexed_at"))
          .truncate()
        graft.store.Versioned.commitOverwrite(docs, docsRoot)
        done.countDown()
      }
    }.option("checkpointLocation", ckptDir()).start()
    done.await(120, java.util.concurrent.TimeUnit.SECONDS)
    q.stop()
    q.awaitTermination()
    graft.store.Versioned.latestVersion(docsRoot)
  }
}
