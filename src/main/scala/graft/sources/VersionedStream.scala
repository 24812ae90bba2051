package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.store.Versioned

/** Structured-Streaming SOURCE and SINK over a
  * [[graft.store.Versioned]] table. The sink side
  * (`writeStream.format("graft.sources.VersionedStream")`) append-
  * commits each micro-batch through the store's (appId, batchId)
  * transaction — exactly-once table contents under addBatch
  * redelivery, no foreachBatch boilerplate. The source side streams
  * the store's commit log (Delta's streaming-source shape):
  * offsets are version numbers, a micro-batch is exactly the data files
  * added between two committed versions (the [[Versioned.readChanges]]
  * metadata set-difference, so batch cost tracks the delta, never the
  * table), and the checkpoint's offset log + the store's immutable
  * files give end-to-end replayable exactly-once ingestion:
  *
  *   spark.readStream.format("graft.sources.VersionedStream")
  *     .option("root", "/path/to/table")
  *     .load()
  *
  * Options:
  *  - `root` (required): the store root.
  *  - `startingVersion` (default 1): first version included. The first
  *    micro-batch is the full snapshot cut at stream start (all files
  *    of versions startingVersion..latest) — Delta's initial-snapshot
  *    semantics; later batches are per-commit deltas.
  *  - `startingTimestamp` (epoch millis, exclusive with
  *    startingVersion): start from the first commit published AT or
  *    after the instant (Delta's at-or-after boundary: a commit whose
  *    manifest mtime equals the timestamp is included) — the streaming
  *    twin of `Versioned.readAsOf`'s timestamp travel. An instant
  *    before the first commit streams everything; an instant after
  *    the last streams only future commits.
  *  - `readChangeFeed` (default false): stream the CHANGE FEED instead
  *    of the appended rows — each batch carries the range's row changes
  *    stamped with `_change_type` ('insert' | 'delete', the latter
  *    materialized from deletion-vector commits) and `_commit_version`
  *    (Delta's CDF streaming read). Rewrite commits still fail the
  *    query loudly; plain appends read as inserts, so a non-DV lineage
  *    streams identically to the default mode plus the two stamps.
  *  - `maxVersionsPerBatch` (default unbounded): steady-state pacing —
  *    cap how many commits one micro-batch drains. The first batch
  *    after a RESTART is deliberately uncapped: the source has no
  *    durable memory of its own, so capping before the checkpoint
  *    position is known could propose an offset BEHIND the committed
  *    one; an uncapped catch-up batch is always monotone.
  *  - `maxFilesPerBatch` (default unbounded): INITIAL-SNAPSHOT pacing
  *    (Delta's maxFilesPerTrigger role on the snapshot). "Start a
  *    stream on a 100 TB table" must not be one micro-batch scanning
  *    the entire snapshot: the snapshot cut's files drain in
  *    deterministic (sorted) order, at most this many per batch, with
  *    offsets of the form `version#fileCount` so a restart resumes at
  *    the exact file the checkpoint recorded. Applies only to the
  *    snapshot cut — steady-state deltas pace by maxVersionsPerBatch.
  *    A FRESH query caps its very first batch (the source marks first
  *    construction under its checkpoint metadata dir); after a restart
  *    whose last batch committed, the remaining catch-up is uncapped,
  *    same contract as maxVersionsPerBatch. Not combinable with
  *    readChangeFeed (CDF batches are join-materialized per version;
  *    pace them by maxVersionsPerBatch).
  *
  * An OVERWRITE commit inside the streamed range fails the query loudly
  * (the readChanges non-append-lineage guard): replaying rewritten
  * history would silently double-count, and "fail and re-seed from the
  * new snapshot" is the documented lakehouse behavior for exactly this
  * case. getBatch DataFrames are plain parquet scans of the delta
  * files, so pushdown/pruning/split planning behave like any batch read.
  *
  * DSv1 Source (getBatch returns a DataFrame) rather than a DSv2
  * MicroBatchStream: the batch IS a parquet scan, and v1 is the API
  * that lets the source hand Spark a planned relation instead of
  * reimplementing a columnar parquet reader inside PartitionReader —
  * the same trade Spark's own FileStreamSource makes.
  */
class VersionedStream extends StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("root",
      throw new IllegalArgumentException(
        "graft.sources.VersionedStream needs .option(\"root\", ...)"))

  private def cdfOf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val root = rootOf(parameters)
    // change-feed mode streams row CHANGES: table columns plus the
    // change stamp (Delta's CDF streaming read shape). The stamps are
    // appended to EXPLICIT schemas too — a user passing the table's
    // own schema would otherwise hit guardSchema's "schema drift"
    // error on the very first CDF batch, a misleading failure for a
    // correct call. An explicit schema that already carries the
    // stamps passes through unchanged.
    def withCdfStamps(base: StructType): StructType =
      if (!cdfOf(parameters)) base
      else {
        val missing = Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false))
          .filterNot(f => base.fieldNames.contains(f.name))
        org.apache.spark.sql.types.StructType(base.fields ++ missing)
      }
    val s = withCdfStamps(schema.getOrElse {
      require(Versioned.latestVersion(root) > 0,
        s"no committed version at $root to infer a schema from - " +
          "commit first or pass an explicit schema")
      Versioned.read(sqlContext.sparkSession, root).schema
    })
    (shortName(), s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val root = rootOf(parameters)
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "pass startingVersion OR startingTimestamp, not both")
    // startingTimestamp = the stream twin of timestamp time travel,
    // with Delta's AT-OR-AFTER boundary: the first included commit is
    // the earliest manifest published at or after the instant (so a
    // commit landing exactly at the timestamp streams — matters to
    // pipelines porting Delta's startingTimestamp). No such commit yet
    // → start one past latest: the stream idles until the next commit.
    val startV = parameters.get("startingTimestamp").map { ts =>
      Versioned.versionAtOrAfter(root, ts.toLong)
        .getOrElse(Versioned.latestVersion(root) + 1L)
    }.orElse(parameters.get("startingVersion").map(_.toLong))
      .getOrElse(1L)
    val maxFiles = parameters.get("maxFilesPerBatch").map(_.toLong)
      .getOrElse(Long.MaxValue)
    require(maxFiles == Long.MaxValue || !cdfOf(parameters),
      "maxFilesPerBatch paces the initial snapshot's FILE scan; " +
        "change-feed batches are join-materialized per version - " +
        "pace a CDF stream with maxVersionsPerBatch instead")
    val maxVersions = parameters.get("maxVersionsPerBatch")
      .map(_.toLong).getOrElse(Long.MaxValue)
    // Fresh-vs-restart detection for first-batch pacing: a capped
    // FIRST proposal is only safe when nothing is committed yet (a
    // restart whose last batch committed must propose an uncapped
    // catch-up — anything else could land BEHIND the checkpoint
    // offset). The source has no access to the offset log, but it
    // does own a metadata dir under the checkpoint: an exclusive
    // marker create distinguishes first construction (we created it →
    // fresh, cap away) from every later one (restart → first proposal
    // uncapped, the documented catch-up contract). Applies to BOTH
    // pacing knobs: a fresh query under maxVersionsPerBatch paces
    // from its very first batch (including CDF mode, where the first
    // batch would otherwise materialize the whole history's changes),
    // and maxFilesPerBatch slices the snapshot cut by file.
    val fresh = (maxFiles != Long.MaxValue ||
        maxVersions != Long.MaxValue) && {
      val p = new org.apache.hadoop.fs.Path(metadataPath,
        "graft-snapshot-paced")
      val fs = p.getFileSystem(
        sqlContext.sparkSession.sparkContext.hadoopConfiguration)
      fs.mkdirs(p.getParent)
      fs.createNewFile(p)
    }
    new VersionedSource(sqlContext, root,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      startingVersion = startV,
      maxVersionsPerBatch = maxVersions,
      cdf = cdfOf(parameters),
      maxFilesPerBatch = maxFiles,
      freshStart = fresh)
  }

  /** EXACTLY-ONCE streaming sink: each micro-batch append-commits
    * through the store's (appId, batchId) manifest transaction, so
    * Spark's documented addBatch redelivery (a sink crash after commit
    * but before the checkpoint advances re-delivers the same batchId)
    * is a manifest-level no-op — the table holds every batch ONCE.
    * `appId` defaults to the query's `checkpointLocation` option, which
    * is stable across restarts of the same query and distinct between
    * queries — exactly the identity the txn needs. It must NOT default
    * to anything query-independent (like the root): batchIds restart at
    * 0 with a fresh checkpoint, so a shared appId would make the dedupe
    * check silently skip every batch of the new query as a "duplicate"
    * of the old one's. No checkpoint and no explicit appId is therefore
    * a loud error, not a guess. Optional `statsCols`
    * (comma-separated) enables data skipping on the sunk table from the
    * first batch. Empty micro-batches are skipped (a version listing no
    * files is unreadable by design). */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-versioned sink is append-only (got $outputMode): the " +
        "store's txn protocol dedupes whole appended batches; updates " +
        "belong to commitMerge, not a streaming sink")
    val root = rootOf(parameters)
    val statsCols = parameters.get("statsCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // writeStream.partitionBy(...) lands here as partitionColumns:
    // each micro-batch commits under the store's hive-style partition
    // layout, so the table accretes path-prunable structure as it
    // streams (an option spelling is accepted too for parity with the
    // batch writer)
    val partitionBy =
      if (partitionColumns.nonEmpty) partitionColumns
      else parameters.get("partitionBy")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    // Exactly-once identity resolution: explicit appId, else the
    // query's own checkpointLocation option. NOTHING query-independent
    // may ever back-fill this — batchIds restart at 0 with a fresh
    // checkpoint, so a shared appId makes the txn dedupe silently skip
    // every batch of the new query as a "duplicate" of the old one's
    // (silent data loss). That rules out the session-default
    // spark.sql.streaming.checkpointLocation too: an unnamed query
    // under it gets a FRESH random checkpoint subdir per start while
    // any root-derived appId stays constant — exactly the losing
    // shape — and DSv1 createSink parameters carry nothing
    // query-unique (no query name, no resolved checkpoint dir) to
    // fold in. Queries configured via the session default must pass
    // an explicit appId (or checkpointLocation option); the error is
    // loud by design.
    val appId = parameters.get("appId")
      .orElse(parameters.get("checkpointLocation").map(c => s"sink@$c"))
      .getOrElse(throw new IllegalArgumentException(
        "graft-versioned sink needs an exactly-once identity: pass " +
          ".option(\"appId\", ...) or .option(\"checkpointLocation\", " +
          "...). The txn dedupe keys on (appId, batchId); the session " +
          "default spark.sql.streaming.checkpointLocation is NOT " +
          "accepted because an unnamed query gets a fresh random " +
          "checkpoint subdir per start (batchIds restart at 0) while " +
          "any identity derived from the default stays constant - the " +
          "dedupe would silently skip every batch of a rerun"))
    new VersionedSink(root, appId, statsCols, partitionBy)
  }
}

private class VersionedSink(root: String, appId: String,
                            statsCols: Seq[String],
                            partitionBy: Seq[String]) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // addBatch hands a streaming-flagged frame; re-wrap before batch
    // actions (the ForeachBatchSink move)
    val batch = org.apache.spark.sql.GraftStreamBridge.asBatch(data)
    if (!batch.isEmpty) {
      Versioned.commitAppendTxn(batch, root, appId, batchId, statsCols,
        partitionBy)
      ()
    }
  }
  override def name(): String = s"graft-versioned-sink[$root]"
  override def toString: String = name()
}

/** Offset: a version number (`"7"` = everything through manifest 7),
  * or mid-snapshot `"7#120"` = the first 120 files of the snapshot
  * cut at version 7 (cut = manifest(7) minus
  * manifest(startingVersion−1), sorted — reconstructible from
  * manifests alone, so the json is self-contained across restarts). */
private case class VersionOffset(v: Long, file: Long = -1L)
    extends Offset {
  override def json: String =
    if (file < 0) v.toString else s"$v#$file"
}

private object VersionOffset {
  def parse(o: Offset): VersionOffset = {
    val s = o.json.trim
    s.indexOf('#') match {
      case -1 => VersionOffset(s.toLong)
      case i => VersionOffset(s.take(i).toLong, s.drop(i + 1).toLong)
    }
  }
}

private class VersionedSource(sqlContext: SQLContext, root: String,
                              override val schema: StructType,
                              startingVersion: Long,
                              maxVersionsPerBatch: Long,
                              cdf: Boolean = false,
                              maxFilesPerBatch: Long = Long.MaxValue,
                              freshStart: Boolean = false)
    extends Source {
  require(startingVersion >= 1, s"startingVersion must be >= 1")
  require(maxVersionsPerBatch >= 1, s"maxVersionsPerBatch must be >= 1")
  require(maxFilesPerBatch >= 1, s"maxFilesPerBatch must be >= 1")

  // highest offset this source has handed to a batch — pacing state
  // only (correctness lives in the checkpoint's offset log); knownV < 0
  // until the first getBatch syncs it, so a restarted query's catch-up
  // batch is never capped below its committed offset. knownFile >= 0
  // means the last end was MID-SNAPSHOT at that file count.
  private var knownV = -1L
  private var knownFile = -1L

  // the snapshot cut is immutable per (base, version): cache the file
  // list the pacer slices (manifest-sized, driver-side)
  private val cuts =
    scala.collection.mutable.Map.empty[Long, Seq[String]]
  private def cutFiles(v: Long): Seq[String] =
    cuts.getOrElseUpdate(v,
      Versioned.snapshotCutFiles(root, startingVersion - 1, v))

  override def getOffset: Option[Offset] = {
    val latest = Versioned.latestVersion(root)
    if (latest < startingVersion) None
    else if (knownV >= 0 && knownFile >= 0) {
      // draining a paced snapshot cut: next slice, or the finishing
      // offset (plain version) once the cut is exhausted
      val n = cutFiles(knownV).size.toLong
      val next = knownFile + math.min(maxFilesPerBatch, n - knownFile)
      if (next >= n) Some(VersionOffset(knownV))
      else Some(VersionOffset(knownV, next))
    }
    else if (knownV < 0 && freshStart && maxFilesPerBatch != Long.MaxValue) {
      // fresh query, file-paced: the very first proposal slices the
      // snapshot cut at the CURRENT latest (safe — nothing committed)
      val n = cutFiles(latest).size.toLong
      if (maxFilesPerBatch >= n) Some(VersionOffset(latest))
      else Some(VersionOffset(latest, maxFilesPerBatch))
    }
    else if (knownV < 0 && freshStart &&
        maxVersionsPerBatch != Long.MaxValue) {
      // fresh query, version-paced: pace from the very first batch
      // (in CDF mode the first batch would otherwise join-materialize
      // the whole history's changes in one go). Floored at the
      // earliest RETAINED version: vacuumed history must not make the
      // first capped offset point at a manifest that no longer exists
      // (the unpaced path starts from the live snapshot and never
      // sees the gap).
      val from = math.max(startingVersion - 1,
        Versioned.earliestVersion(root) - 1)
      Some(VersionOffset(
        from + math.min(maxVersionsPerBatch, latest - from)))
    }
    else if (knownV < 0 || knownV >= latest) Some(VersionOffset(latest))
    // step, never known + max: an unbounded cap must not overflow the
    // addition (2 + Long.MaxValue wraps NEGATIVE and poisons the
    // offset log with a garbage version)
    else Some(VersionOffset(
      knownV + math.min(maxVersionsPerBatch, latest - knownV)))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endO = VersionOffset.parse(end)
    val endV = endO.v
    // sync pacing state to the furthest end seen (lexicographic on
    // (version, fileCount); plain v sits ABOVE any v#k)
    val ahead = endV > knownV ||
      (endV == knownV && knownFile >= 0 &&
        (endO.file < 0 || endO.file > knownFile))
    if (knownV < 0 || ahead) { knownV = endV; knownFile = endO.file }
    val spark = sqlContext.sparkSession
    val (raw, opaque) = batchFrame(spark, start.map(VersionOffset.parse),
      endO)
    val frame = guardSchema(raw, endV)
    // batches that carry a JOIN — change-feed batches (tombstones →
    // deleted rows) and an initial snapshot over live deletion vectors
    // (the anti-join) — would read as stateful stream-stream joins if
    // leaf-flagged, so they enter the stream pre-planned as one opaque
    // leaf; plain scan batches stay leaf-flagged (pushdown visible to
    // the incremental planner)
    if (opaque) org.apache.spark.sql.GraftStreamBridge
      .asStreamingOpaque(frame)
    else org.apache.spark.sql.GraftStreamBridge.asStreaming(frame)
  }

  /** Fail LOUDLY when a delta batch's parquet schema drifts from the
    * stream's declared schema — the schema is fixed at stream start, so
    * a schema-evolution append (a later commit adding columns) landing
    * mid-stream would otherwise surface as a confusing analysis error
    * (or silently missing columns) somewhere downstream. Name+type
    * comparison, nullability ignored (parquet scans tighten it freely);
    * the remedy mirrors the overwrite guard: restart the query so it
    * re-infers the widened schema, with mergeSchema on its own batch
    * reads if pre-evolution files must surface the new columns. */
  private def guardSchema(df: DataFrame, endV: Long): DataFrame = {
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType))
    if (!shape(df.schema).sameElements(shape(schema)))
      throw new IllegalStateException(
        s"schema drift in versioned stream over $root at version $endV: " +
          s"the stream declared ${schema.simpleString} but the batch " +
          s"reads ${df.schema.simpleString} - a schema-evolution commit " +
          "landed mid-stream; restart the query to adopt the new schema")
    df
  }

  private def emptyBatch(spark: org.apache.spark.sql.SparkSession)
      : DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Change-feed batch over (fromV, endV]: row changes stamped with
    * _change_type/_commit_version. Deletion-vector commits stream as
    * 'delete' rows (batch mode's exact semantics); a same-contents
    * range (restore-rollback healing) is an empty batch; a rewrite
    * commit still fails the query loudly via readChangeFeed's guard. */
  private def cdfBatch(spark: org.apache.spark.sql.SparkSession,
                       fromV: Long, endV: Long): DataFrame =
    if (Versioned.sameEntries(root, fromV, endV)) emptyBatch(spark)
    // emptyOk: a range holding only row-neutral rewrites (compact /
    // zorder / dv-purge — routine table maintenance) carries zero
    // changes; without tolerance the feed's nonEmpty require would
    // crash-loop this stream on every restart until an unrelated
    // commit lands
    else Versioned.readChangeFeed(spark, root, fromV, endV,
      emptyOk = true)

  /** The rows appended over (fromV, endV]: ONE resolution of the
    * range ([[Versioned.appendedRange]]: `endV`'s snapshot and `fromV`'s
    * manifest) and one scan of its files. None when the range is
    * append-consistent but added no file — a RESTORE back to exactly
    * what the stream consumed heals it with an empty batch. A range
    * that is not an append lineage fails the query loudly. */
  private def appended(spark: org.apache.spark.sql.SparkSession,
                       fromV: Long, endV: Long): Option[DataFrame] = {
    val (s, added) = Versioned.appendedRange(root, fromV, endV)
    if (added.isEmpty) None else Some(Versioned.appendedScan(spark, s, added))
  }

  /** A slice [from, until) of the snapshot cut at `v`, with the
    * version's live deletion vectors applied (tombstone keys are
    * per-file, so applying them to a file subset is exact). */
  private def cutSlice(spark: org.apache.spark.sql.SparkSession,
                       v: Long, from: Long, until: Long)
      : (DataFrame, Boolean) = {
    val files = cutFiles(v).slice(from.toInt,
      math.min(until, Int.MaxValue.toLong).toInt)
    if (files.isEmpty) (emptyBatch(spark), false)
    else {
      // the store's one read path over version v's snapshot: its
      // tombstones and schema-DDL state apply to the slice
      val s = Versioned.snapshot(root, v)
      (Versioned.scanAdmitted(spark, s, files), s.dvFiles.nonEmpty)
    }
  }

  /** The micro-batch frame plus whether it must enter the stream as an
    * opaque pre-planned leaf (it carries a join, which leaf-flagging
    * would misread as a stateful streaming join). */
  private def batchFrame(spark: org.apache.spark.sql.SparkSession,
                         start: Option[VersionOffset],
                         end: VersionOffset)
      : (DataFrame, Boolean) = {
    val endV = end.v
    start match {
      case None if end.file >= 0L =>
        // paced snapshot: the first slice of the cut
        cutSlice(spark, endV, 0L, end.file)
      case Some(s) if s.file >= 0L =>
        // resuming MID-SNAPSHOT at file s.file of cut(s.v)
        val n = cutFiles(s.v).size.toLong
        if (end.file >= 0L) {
          require(end.v == s.v,
            s"mid-snapshot offsets must share a version: " +
              s"${s.json} -> ${end.json}")
          cutSlice(spark, s.v, s.file, end.file)
        } else if (endV <= s.v) {
          // finishing slice: the plain end offset closes the cut
          cutSlice(spark, s.v, s.file, n)
        } else {
          // uncapped catch-up after a restart: the rest of the cut
          // plus the deltas (s.v, endV] — the delta side carries the
          // same non-append/DV guards as every plain delta batch
          val (cut, cutDv) = cutSlice(spark, s.v, s.file, n)
          (appended(spark, s.v, endV).fold(cut)(cut.unionByName(_)), cutDv)
        }
      case Some(s) if s.v >= endV =>
        // replanned empty range (e.g. restart edge): zero-row batch
        (emptyBatch(spark), cdf)
      case Some(s) if s.v >= startingVersion =>
        // A RESTORE that rolled the table back to exactly what this
        // stream already consumed leaves an append-consistent range
        // with an empty file delta (manifest(end) == manifest(start)):
        // the stream HEALS — an empty batch, not a crash. Only ranges
        // whose files were genuinely rewritten (the overwrite itself,
        // if the stream drained past it) still fail loudly with the
        // non-append-lineage error.
        if (cdf) (cdfBatch(spark, s.v, endV), true)
        else (appended(spark, s.v, endV).getOrElse(emptyBatch(spark)), false)
      case _ if startingVersion == 1L =>
        // the initial snapshot applies live deletion vectors (Delta's
        // semantics: the snapshot is the LIVE rows) — an anti-join, so
        // it must ride opaque when tombstones exist
        if (cdf) (cdfBatch(spark, 0L, endV), true)
        else {
          val s = Versioned.snapshot(root, endV)
          (Versioned.scanAdmitted(spark, s, s.dataFiles),
            s.dvFiles.nonEmpty)
        }
      case _ =>
        // initial snapshot cut at startingVersion: manifest(end) minus
        // manifest(startingVersion - 1) - exact for append lineages,
        // guarded by the same non-append check as every delta batch
        // (and by the same empty-delta healing: a table restored to
        // exactly the cut's contents starts with an empty batch)
        if (cdf) (cdfBatch(spark, startingVersion - 1, endV), true)
        else (appended(spark, startingVersion - 1, endV)
          .getOrElse(emptyBatch(spark)), false)
    }
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"VersionedSource[$root, from=$startingVersion]"
}
