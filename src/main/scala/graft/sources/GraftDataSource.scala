package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualNullSafe => CEqualNullSafe, EqualTo => CEqualTo, Expression, GreaterThan => CGreaterThan, GreaterThanOrEqual => CGreaterThanOrEqual, In => CIn, InSet, LessThan => CLessThan, LessThanOrEqual => CLessThanOrEqual, Literal, StartsWith => CStartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.store.{Snapshot, Versioned}

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * versioned store as a first-class Spark data source, so plain
  * DataFrame / SQL predicates drive its file skipping through Catalyst
  * itself instead of through facade arguments.
  *
  * READ plans one of two relations:
  *
  *  - **No deletion vectors at the version** (the read-optimized state
  *    every purge/compaction restores): a native [[HadoopFsRelation]]
  *    over [[GraftFileIndex]] — Spark's own parquet scan, whole-stage
  *    codegen, vectorized reader and parquet row-group pruning all
  *    apply, and `listFiles` receives the query's data filters as
  *    Catalyst expressions, which the index translates into the
  *    store's stats-interval + bloom probes (Delta's TahoeLogFileIndex
  *    role). A filter the index can't translate simply admits — file
  *    skipping is an IO optimization, never a correctness gate,
  *    because Spark re-applies every predicate row-wise.
  *  - **Live deletion vectors**: rows owe a read-time tombstone
  *    anti-join no file-scan relation can express, so the source falls
  *    back to a [[PrunedFilteredScan]] that composes the store's own
  *    admitted-files + DV-application path ([[Versioned.readProbed]])
  *    and hands Spark the resulting InternalRow RDD. Same answers,
  *    join-based; `commitPurgeDeleteVectors` restores the native plan.
  *
  * Options: `versionAsOf` (commit number) and `timestampAsOf` (epoch
  * millis) time travel, mutually exclusive; `mergeSchema` unions the
  * schemas of all live files instead of trusting the first.
  *
  * SNAPSHOT RESOLUTION IS LAZY for untravelled reads: a relation
  * resolved once (a `CREATE TEMPORARY VIEW ... USING graft`, a catalog
  * table entry) re-resolves the LATEST version at every `listFiles`
  * call, so SQL reads through a long-lived view observe later commits
  * — read-your-writes for the pure-SQL audience (Delta resolves the
  * snapshot at listFiles time for the same reason). `versionAsOf` /
  * `timestampAsOf` pin, exactly as asked.
  *
  * WRITE maps SaveMode onto the commit log: Append → `commitAppend`,
  * Overwrite → `commitOverwrite` (history stays readable, vacuum
  * reclaims), ErrorIfExists / Ignore honor existing versions.
  * `statsCols` / `bloomCols` (comma-separated) maintain the skipping
  * sidecars exactly as the Scala API does. [[SchemaRelationProvider]]
  * makes `CREATE TABLE t (cols...) USING graft` legal before any data
  * is committed: the declared schema serves the typed empty relation
  * until the first commit writes the schema of record. */
class GraftDataSource extends RelationProvider
    with SchemaRelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  // ---- streaming: ONE format name for batch and stream (Delta's
  // ergonomics) — readStream/writeStream.format("graft") delegate to
  // the versioned stream source/sink, with the batch reader's `path`
  // spelling accepted for the table root.
  private lazy val streams = new VersionedStream

  private def streamParams(parameters: Map[String, String])
      : Map[String, String] =
    if (parameters.contains("root")) parameters
    else parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }.map(p => parameters + ("root" -> p)).getOrElse(parameters)

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) =
    streams.sourceSchema(sqlContext, schema, providerName,
      streamParams(parameters))

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    streams.createSource(sqlContext, metadataPath, schema, providerName,
      streamParams(parameters))

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    streams.createSink(sqlContext, streamParams(parameters),
      partitionColumns, outputMode)

  private def rootOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "the graft format needs a table root: " +
          "spark.read.format(\"graft\").load(<root>)"))

  private def opt(parameters: Map[String, String], name: String)
      : Option[String] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) => v }

  /** Explicitly-pinned version, or None for "latest, resolved lazily
    * per scan". */
  private def pinnedVersion(root: String,
                            parameters: Map[String, String])
      : Option[Long] = {
    val asOfV = opt(parameters, "versionAsOf")
    val asOfTs = opt(parameters, "timestampAsOf")
    require(asOfV.isEmpty || asOfTs.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    asOfV.map(_.toLong)
      .orElse(asOfTs.map { ts =>
        require(ts.nonEmpty && ts.forall(_.isDigit),
          s"timestampAsOf must be epoch millis, got '$ts'")
        Versioned.versionAt(root, ts.toLong)
      })
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : BaseRelation =
    createRelation(sqlContext, parameters, None)

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String],
                              schema: StructType): BaseRelation =
    createRelation(sqlContext, parameters, Some(schema))

  private def createRelation(sqlContext: SQLContext,
                             parameters: Map[String, String],
                             userSchema: Option[StructType])
      : BaseRelation = {
    val root = rootOf(parameters)
    val spark = sqlContext.sparkSession
    // batch change-feed read (Delta's CDF shape): rows changed over
    // (startingVersion, endingVersion], stamped _change_type +
    // _commit_version — cost tracks the DELTA, never the table
    if (opt(parameters, "readChangeFeed").exists(_.toBoolean)) {
      val from = opt(parameters, "startingVersion").map(_.toLong)
        .orElse(opt(parameters, "startingTimestamp").map { ts =>
          require(ts.nonEmpty && ts.forall(_.isDigit),
            s"startingTimestamp must be epoch millis, got '$ts'")
          math.max(0L, Versioned.versionAtOrAfter(root, ts.toLong)
            .getOrElse(Versioned.latestVersion(root) + 1) - 1L)
        })
        .getOrElse(throw new IllegalArgumentException(
          "readChangeFeed needs startingVersion or startingTimestamp"))
      val to = opt(parameters, "endingVersion").map(_.toLong)
        .getOrElse(0L)
      return new GraftCdfRelation(sqlContext, root, from, to)
    }
    val pinned = pinnedVersion(root, parameters)
    val snap = Versioned.snapshotOf(root, pinned.getOrElse(0L))
    require(snap.nonEmpty || userSchema.nonEmpty ||
      Versioned.tableSchema(root).nonEmpty ||
      Versioned.schemaDdl(root).nonEmpty,
      s"no committed version at $root (and no declared schema to " +
        "serve an empty relation from)")
    if (snap.exists(_.dvFiles.nonEmpty))
      // correct without session extensions (self-contained anti-join
      // RDD); with GraftExtensions, GraftDvReadRule replaces this per
      // query with the native scan + logical anti-join plan, keeping
      // whole-stage codegen and the vectorized parquet reader
      new GraftDvRelation(sqlContext, root, pinned, snap.get)
    else {
      val index = new GraftFileIndex(spark, root, pinned, seed = snap)
      val files =
        snap.toSeq.flatMap(s => s.dataFiles.map(s.path(_).toString))
      // schema-DDL tables scan in PHYSICAL space (the state's explicit
      // read schema — files predating an added column null-fill it);
      // GraftMappingRule projects the relation to logical names per
      // query, so renames land without re-creating the relation
      val ddl = Versioned.schemaDdl(root,
        pinned.getOrElse(0L))
      val dataSchema = ddl.map(_.physicalReadSchema).getOrElse {
        if (files.isEmpty)
          Versioned.tableSchema(root).orElse(userSchema).get
        else if (opt(parameters, "mergeSchema").exists(_.toBoolean))
          spark.read.option("mergeSchema", "true")
            .parquet(files: _*).schema
        else index.schemaOf
      }
      HadoopFsRelation(index, new StructType(), dataSchema, None,
        new ParquetFileFormat, parameters)(spark)
    }
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    def cols(name: String): Seq[String] =
      opt(parameters, name).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val statsCols = cols("statsCols")
    val bloomCols = cols("bloomCols")
    // native DataFrameWriter.partitionBy arrives encoded under
    // DataSourceUtils.PARTITIONING_COLUMNS_KEY (__partition_columns);
    // the explicit "partitionBy" option remains as the SQL-facing
    // spelling (CREATE TEMPORARY VIEW options cannot call partitionBy)
    val nativeBy = opt(parameters,
        org.apache.spark.sql.execution.datasources.DataSourceUtils
          .PARTITIONING_COLUMNS_KEY)
      .map(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .decodePartitioningColumns)
      .getOrElse(Nil)
    val partitionBy =
      if (nativeBy.nonEmpty) nativeBy else cols("partitionBy")
    // writer ergonomics: bound file sizes at write time (OPTIMIZE
    // becomes maintenance, not repair) and/or z-order-cluster the
    // batch as it lands (write-time OPTIMIZE ZORDER)
    val maxRecords = opt(parameters, "maxRecordsPerFile")
      .map(_.toLong).getOrElse(0L)
    val zorderBy = cols("zorderBy")
    val toWrite =
      if (zorderBy.isEmpty) data
      else if (zorderBy.size == 1)
        data.sort(org.apache.spark.sql.functions.col(zorderBy.head))
      else graft.store.Layout.zorderN(data,
        zorderBy.map(org.apache.spark.sql.functions.col),
        opt(parameters, "zorderFiles").map(_.toInt).getOrElse(
          math.max(1, data.rdd.getNumPartitions)))
    val exists = Versioned.latestVersion(root) > 0
    mode match {
      case SaveMode.Append =>
        Versioned.commitAppend(toWrite, root, statsCols, bloomCols,
          partitionBy = partitionBy, maxRecordsPerFile = maxRecords)
      case SaveMode.Overwrite =>
        Versioned.commitOverwrite(toWrite, root, None, statsCols,
          bloomCols, partitionBy = partitionBy,
          maxRecordsPerFile = maxRecords)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"$root already holds a committed table (SaveMode.ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case _ => // first commit of an ErrorIfExists / Ignore write
        Versioned.commitAppend(toWrite, root, statsCols, bloomCols,
          partitionBy = partitionBy, maxRecordsPerFile = maxRecords)
    }
    createRelation(sqlContext, parameters)
  }
}

/** The store's commit log as Spark's [[FileIndex]]: `listFiles` is
  * called with the query's partition + data filters and answers with
  * only the files the stats/bloom sidecars admit, so Catalyst's own
  * predicate pushdown becomes the store's file skipping with no API
  * between them. Untranslatable filters admit; every filter is still
  * applied row-wise by the scan above, so admission is never a
  * correctness gate.
  *
  * Every scan reads ONE [[graft.store.Snapshot]]: its files, their
  * statuses, its tombstone check and its sidecar admission all come
  * from the snapshot resolved for that scan, never from a second look
  * at the store. `pinned = None` means "the LATEST version, re-resolved
  * at every listFiles call" — a relation resolved once into a temp
  * view or a catalog table keeps seeing new commits (the snapshot is
  * chosen per scan, Delta's TahoeLogFileIndex semantics); a DML command
  * that advanced the table needs no invalidation hook. The index keeps
  * its last snapshot, so repeated scans of an unchanged table pay one
  * root listing and no manifest read. `dvApplied = true` marks an index
  * planned UNDER the logical anti-join [[graft.plans.GraftDvReadRule]]
  * builds — the guard below must not re-fire for it. */
final class GraftFileIndex(spark: SparkSession, val root: String,
                           val pinned: Option[Long],
                           val dvApplied: Boolean = false,
                           val mapped: Boolean = false,
                           seed: Option[Snapshot] = None)
    extends FileIndex {

  def this(spark: SparkSession, root: String, version: Long) =
    this(spark, root, Some(version))

  @volatile private var cached: Option[Snapshot] = seed

  /** Copy flagged as already sitting under a [[graft.plans]] mapping
    * projection (stops the wrap rule re-firing in its fixpoint). */
  private[graft] def asMapped: GraftFileIndex =
    new GraftFileIndex(spark, root, pinned, dvApplied, mapped = true,
      seed = cached)

  /** The snapshot this scan reads — pinned, or latest-right-now; None
    * while the table has no commit. */
  private[graft] def snapshot(): Option[Snapshot] = {
    val s = Versioned.snapshotOf(root, pinned.getOrElse(0L), cached)
    cached = s
    s
  }

  /** Schema used for probe translation and (when files exist) as the
    * relation's data schema. The FILE FOOTER is authoritative whenever
    * data files exist — schema.json is advisory, last-writer-wins
    * metadata (a refused or conflict-failed write may have updated it
    * with a schema no committed version carries), so it only serves
    * the zero-data-file case where there is no footer to read. */
  private[graft] lazy val schemaOf: StructType =
    // the snapshot's one schema: a schema-DDL state is authoritative
    // for the PHYSICAL read space (footers of old files predate added
    // columns); otherwise the first data file's footer rules
    snapshot().filter(s => s.ddl.nonEmpty || s.dataFiles.nonEmpty)
      .map(_.schema(spark))
      .orElse(Versioned.tableSchema(root)).getOrElse(
        throw new IllegalStateException(
          s"$root holds no data files and no schema of record"))

  override val rootPaths: Seq[Path] = Seq(new Path(root))

  override def partitionSchema: StructType = new StructType()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val snap = snapshot()
    // planning data files alone over live tombstones would RESURRECT
    // deleted rows; GraftDvReadRule (installed by GraftExtensions)
    // rewrites such reads into scan + anti-join before execution, so
    // reaching this guard means the rule isn't installed
    snap.foreach(s => require(dvApplied || s.dvFiles.isEmpty,
      s"$root carries deletion vectors at version ${s.version}: " +
        "install graft.plans.GraftExtensions (spark.sql.extensions) so " +
        "reads apply them (a relation analyzed BEFORE the tombstone " +
        "commit must be re-created), or read via " +
        "graft.store.Versioned.read"))
    val kept: Seq[FileStatus] = snap match {
      // uncommitted or emptied table: zero files, and no schema is
      // needed to say so
      case Some(s) if s.dataFiles.nonEmpty =>
        val probes = GraftProbes.fromCatalyst(
          partitionFilters ++ dataFilters, schemaOf)
        if (probes.contradiction) Nil
        else if (probes.isEmpty) s.statuses
        else {
          val byEntry = s.dataFiles.zip(s.statuses).toMap
          // filters push through the mapping projection into PHYSICAL
          // attributes, so these probes are already in sidecar space
          Versioned.admit(s, probes.bounds, probes.equalitySets,
            probes.hashEqualitySets, physicalKeys = true).map(byEntry)
        }
      case _ => Nil
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  private def statuses: Seq[FileStatus] =
    snapshot().map(_.statuses).getOrElse(Nil)

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray

  override def refresh(): Unit = cached = None

  override def sizeInBytes: Long = statuses.map(_.getLen).sum
}

/** Deletion-vector fallback relation: admitted files + tombstone
  * anti-join composed by the store's single scan path, surfaced as an
  * InternalRow RDD (`needConversion = false`). Spark re-applies every
  * filter above this scan, so only translatable probes matter here —
  * they bound IO, not answers. Like the file index, an unpinned
  * relation re-resolves the latest version per scan, and each scan
  * reads one [[graft.store.Snapshot]]. With GraftExtensions installed
  * this relation never executes: GraftDvReadRule replaces it with the
  * native logical plan. */
private[graft] final class GraftDvRelation(
    override val sqlContext: SQLContext, val root: String,
    val pinned: Option[Long], creation: Snapshot)
    extends BaseRelation with PrunedFilteredScan {

  private def spark = sqlContext.sparkSession

  @volatile private var cached: Snapshot = creation

  /** The snapshot this scan reads: pinned, or latest-right-now. */
  private[graft] def snapshot(): Snapshot = {
    val s = Versioned.snapshot(root, pinned.getOrElse(0L), Some(cached))
    cached = s
    s
  }

  override val schema: StructType =
    Versioned.scanAdmitted(spark, creation, creation.dataFiles).schema

  // buildScan returns InternalRows (the contract this flag selects);
  // the declared RDD[Row] element type is erased at runtime
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val snap = snapshot()
    val probes = GraftProbes.fromSources(filters, schema)
    val base =
      if (probes.contradiction) Versioned.scanAdmitted(spark, snap, Nil)
      else Versioned.readProbed(spark, snap, probes.bounds,
        probes.equalitySets, probes.hashEqualitySets)
    // row-wise application of whatever translates cheaply; Spark
    // re-applies the full set above, this only trims the exchange
    val filtered = GraftProbes.toColumns(filters)
      .foldLeft(base)((df, c) => df.filter(c))
    val pruned =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.map(col).toSeq: _*)
    pruned.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

/** Batch change-data-feed relation: the exact row changes over
  * (startingVersion, endingVersion], derived from the commit log's
  * file algebra (and cdc sidecars across rewrites) by
  * [[Versioned.readChangeFeed]]. A metadata-driven computed scan —
  * filters re-apply above it, so none are claimed here. */
private[sources] final class GraftCdfRelation(
    override val sqlContext: SQLContext, root: String,
    fromVersion: Long, toVersion: Long)
    extends BaseRelation with TableScan {

  // ONE derivation serving both schema and buildScan (the frame is
  // metadata-derived; computing it twice was pure waste)
  private lazy val feed: DataFrame = {
    // ONE listing: the open end resolves through the feed's own
    // snapshot. A changeless range (an explicit end at or below the
    // start, or an open end at the start) is the feed's exact shape with
    // zero rows: the readChangeFeedSince tolerance, not an error
    val spark = sqlContext.sparkSession
    val changeless = toVersion != 0L && fromVersion >= toVersion
    val snap = Versioned.snapshot(root, if (changeless) 0L else toVersion)
    if (changeless) Versioned.emptyFeedFrame(spark, snap)
    else Versioned.changeFeedOf(spark, snap, fromVersion, emptyOk = true)
  }

  override val schema: StructType = feed.schema

  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] =
    feed.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

/** Translation from Spark filter languages (Catalyst expressions for
  * the FileIndex, `sources.Filter` for the DV relation) into the
  * store's sidecar key spaces: integral columns probe as raw longs,
  * string columns as order-preserving 8-byte-prefix keys (stats
  * intervals) plus xxhash64 full-value keys (blooms). Conjunctions
  * intersect; anything unrecognized is ignored (admits). A provably
  * unsatisfiable conjunction (disjoint equality sets, crossed integral
  * bounds) is flagged so callers plan ZERO files. */
private[sources] object GraftProbes {

  final case class Probes(bounds: Map[String, (Long, Long)],
                          equalitySets: Map[String, Seq[Long]],
                          hashEqualitySets: Map[String, Seq[Long]],
                          contradiction: Boolean) {
    def isEmpty: Boolean =
      bounds.isEmpty && equalitySets.isEmpty && hashEqualitySets.isEmpty
  }

  private final class Builder(schema: StructType) {
    private val kinds: Map[String, Char] = schema.fields.map { f =>
      f.name -> (f.dataType match {
        case LongType | IntegerType | ShortType | ByteType => 'i'
        case StringType => 's'
        case _ => 'x'
      })
    }.toMap
    private val boundAcc = mutable.Map.empty[String, (Long, Long)]
    private val intEqAcc = mutable.Map.empty[String, Set[Long]]
    private val strEqAcc = mutable.Map.empty[String, Set[String]]
    private var contradiction = false

    private def addBound(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = boundAcc.getOrElse(c, (Long.MinValue, Long.MaxValue))
      boundAcc(c) = (math.max(l0, lo), math.min(h0, hi))
    }

    private def longOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }

    private def stringOf(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case u: UTF8String => Some(u.toString)
      case _ => None
    }

    /** `c = any of vs` (a single equality conjunct; null elements match
      * nothing and are dropped — an all-null list is a contradiction). */
    def equality(c: String, vs: Seq[Any]): Unit = kinds.get(c) match {
      case Some('i') =>
        val longs = vs.filter(_ != null).flatMap(longOf)
        if (longs.size == vs.count(_ != null)) {
          if (longs.isEmpty) contradiction = true
          else {
            val merged = intEqAcc.get(c)
              .map(_ intersect longs.toSet).getOrElse(longs.toSet)
            intEqAcc(c) = merged
            if (merged.isEmpty) contradiction = true
          }
        }
      case Some('s') =>
        val strs = vs.filter(_ != null).flatMap(stringOf)
        if (strs.size == vs.count(_ != null)) {
          if (strs.isEmpty) contradiction = true
          else {
            val merged = strEqAcc.get(c)
              .map(_ intersect strs.toSet).getOrElse(strs.toSet)
            strEqAcc(c) = merged
            if (merged.isEmpty) contradiction = true
          }
        }
      case _ => ()
    }

    /** `c <op> v` range conjunct. Integral bounds are exact (strict
      * ops shift by one); string bounds go through the prefix key,
      * which is monotone NON-strict — a strict string op relaxes to
      * its non-strict prefix bound, still a sound necessary
      * condition. */
    def range(c: String, v: Any, gt: Boolean, strict: Boolean): Unit =
      kinds.get(c) match {
        case Some('i') => longOf(v).foreach { l =>
          if (gt) {
            if (strict && l == Long.MaxValue) contradiction = true
            else addBound(c, if (strict) l + 1 else l, Long.MaxValue)
          } else {
            if (strict && l == Long.MinValue) contradiction = true
            else addBound(c, Long.MinValue, if (strict) l - 1 else l)
          }
        }
        case Some('s') => stringOf(v).foreach { s =>
          val pk = Versioned.prefixKeyOf(s)
          if (gt) addBound(c, pk, Long.MaxValue)
          else addBound(c, Long.MinValue, pk)
        }
        case _ => ()
      }

    /** `c LIKE 'p%'`: every match shares p's first 8 UTF-8 bytes (or
      * starts with all of p when p is shorter), so its prefix key lies
      * in [key(p padded 0x00), key(p padded 0xFF)]. */
    def startsWith(c: String, p: String): Unit =
      if (kinds.get(c).contains('s')) {
        val b = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var lo = 0L
        var hi = 0L
        var i = 0
        while (i < 8) {
          val known = i < b.length
          lo = (lo << 8) | (if (known) b(i) & 0xffL else 0x00L)
          hi = (hi << 8) | (if (known) b(i) & 0xffL else 0xffL)
          i += 1
        }
        addBound(c, lo ^ Long.MinValue, hi ^ Long.MinValue)
      }

    def build(): Probes = {
      // string equality sets probe blooms by full-value hash AND
      // narrow the stats interval through their prefix keys
      strEqAcc.foreach { case (c, vs) =>
        val pks = vs.map(Versioned.prefixKeyOf)
        addBound(c, pks.min, pks.max)
      }
      val crossed = boundAcc.exists { case (_, (lo, hi)) => lo > hi }
      Probes(boundAcc.toMap,
        intEqAcc.view.mapValues(_.toSeq.sorted).toMap,
        strEqAcc.view.mapValues(
          _.toSeq.sorted.map(Versioned.hashKeyOf)).toMap,
        contradiction || crossed)
    }
  }

  def fromCatalyst(filters: Seq[Expression], schema: StructType)
      : Probes = {
    val b = new Builder(schema)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    filters.flatMap(conjuncts).foreach {
      case CEqualTo(a: AttributeReference, Literal(v, _)) if v != null =>
        b.equality(a.name, Seq(v))
      case CEqualTo(Literal(v, _), a: AttributeReference) if v != null =>
        b.equality(a.name, Seq(v))
      case CEqualNullSafe(a: AttributeReference, Literal(v, _))
          if v != null => b.equality(a.name, Seq(v))
      case CEqualNullSafe(Literal(v, _), a: AttributeReference)
          if v != null => b.equality(a.name, Seq(v))
      case CIn(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        b.equality(a.name, vs.map(_.asInstanceOf[Literal].value))
      case InSet(a: AttributeReference, vs) =>
        b.equality(a.name, vs.toSeq)
      case CGreaterThan(a: AttributeReference, Literal(v, _)) =>
        b.range(a.name, v, gt = true, strict = true)
      case CGreaterThan(Literal(v, _), a: AttributeReference) =>
        b.range(a.name, v, gt = false, strict = true)
      case CGreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        b.range(a.name, v, gt = true, strict = false)
      case CGreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
        b.range(a.name, v, gt = false, strict = false)
      case CLessThan(a: AttributeReference, Literal(v, _)) =>
        b.range(a.name, v, gt = false, strict = true)
      case CLessThan(Literal(v, _), a: AttributeReference) =>
        b.range(a.name, v, gt = true, strict = true)
      case CLessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        b.range(a.name, v, gt = false, strict = false)
      case CLessThanOrEqual(Literal(v, _), a: AttributeReference) =>
        b.range(a.name, v, gt = true, strict = false)
      case CStartsWith(a: AttributeReference, Literal(v, StringType))
          if v != null => b.startsWith(a.name, v.toString)
      case _ => ()
    }
    b.build()
  }

  def fromSources(filters: Seq[Filter], schema: StructType): Probes = {
    val b = new Builder(schema)
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    filters.flatMap(conjuncts).foreach {
      case EqualTo(c, v) if v != null => b.equality(c, Seq(v))
      case EqualNullSafe(c, v) if v != null => b.equality(c, Seq(v))
      case In(c, vs) => b.equality(c, vs.toSeq)
      case GreaterThan(c, v) => b.range(c, v, gt = true, strict = true)
      case GreaterThanOrEqual(c, v) =>
        b.range(c, v, gt = true, strict = false)
      case LessThan(c, v) => b.range(c, v, gt = false, strict = true)
      case LessThanOrEqual(c, v) =>
        b.range(c, v, gt = false, strict = false)
      case StringStartsWith(c, p) => b.startsWith(c, p)
      case _ => ()
    }
    b.build()
  }

  /** Row-wise `Column` forms of the translatable filters — applied
    * inside the DV relation so fewer rows cross its RDD boundary. */
  def toColumns(filters: Seq[Filter]): Seq[org.apache.spark.sql.Column] =
    filters.flatMap {
      case EqualTo(c, v) => Some(col(c) === v)
      case EqualNullSafe(c, v) => Some(col(c) <=> v)
      case In(c, vs) => Some(col(c).isin(vs.toSeq: _*))
      case GreaterThan(c, v) => Some(col(c) > v)
      case GreaterThanOrEqual(c, v) => Some(col(c) >= v)
      case LessThan(c, v) => Some(col(c) < v)
      case LessThanOrEqual(c, v) => Some(col(c) <= v)
      case StringStartsWith(c, p) => Some(col(c).startsWith(p))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case _ => None
    }
}
