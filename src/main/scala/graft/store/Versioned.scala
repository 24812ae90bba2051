package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-versioned parquet store: snapshot isolation + time travel
  * over plain parquet files, the minimal lakehouse commit protocol.
  *
  * Layout under `root`:
  * {{{
  *   data/<commit-uuid>/part-*.parquet   -- immutable once written
  *   manifest-v<N>.json                  -- {"version",N "writer",id files...}
  * }}}
  *
  * A table VERSION is a manifest: the explicit list of data files that
  * make up that snapshot, stored ROOT-RELATIVE (`data/<uuid>/part-…`)
  * so the table can be reached through any alias of its root — symlink,
  * bind mount, relocated directory, `file://` URI vs bare path — and
  * vacuum's reachability arithmetic never depends on how a caller
  * spelled the root (Delta/Iceberg store relative paths for the same
  * reason). Commit protocol: (1) write the batch's parquet files into a
  * fresh `data/<uuid>/` directory; (2) compose the new manifest =
  * parent manifest's files + the new files; (3) publish it atomically
  * as `manifest-v<N>.json`. Publication is the only visibility event —
  * a crash before it leaves orphaned data files (harmless, GC-able) but
  * NEVER a torn table, and readers that pinned version k keep a
  * consistent file list forever (files are immutable and never deleted
  * by commits). This is the core argument of every lakehouse log
  * (Delta/Iceberg): correctness lives in one atomic metadata operation,
  * not in the data path.
  *
  * Concurrency is OPTIMISTIC, not single-writer: each writer publishes
  * under a create-exclusive primitive, so two writers racing the same
  * version number cannot silently overwrite each other — the loser
  * detects the collision and retries on top of the winner's commit
  * (its staged data files are re-listed in the retried manifest, so
  * no committed row is ever lost). On a POSIX `file://` store the
  * exclusive publish is a hard link (link(2) is atomic and fails with
  * EEXIST); on HDFS-like stores it is `FileSystem.rename`, whose
  * contract fails when the destination exists, followed by a re-read
  * of the published manifest's writer token as a second check. Object
  * stores without atomic rename (S3) need a conditional-put or a
  * commit-coordination service for this step — the documented caveat
  * of every rename-based lakehouse log; everything else here (data
  * writes, pinned reads, vacuum set arithmetic) is already safe on
  * eventually-renamed stores because data files are immutable and
  * manifests are the only mutation point.
  *
  * Why it matters at 100 TB: readers never LIST the data directory —
  * the manifest IS the listing, so planning cost tracks the manifest
  * (one small JSON) instead of object-store enumeration over millions
  * of files; appends cost O(delta) with zero read-side disruption; and
  * time travel / reproducible training runs are "pin version k" — the
  * exact corpus a model trained on is re-readable verbatim while
  * ingest keeps committing.
  *
  * All metadata I/O goes through `org.apache.hadoop.fs.FileSystem`, so
  * a root of `/local/path`, `file:///…` or `hdfs://nn/…` behaves
  * identically; the data path is Spark's ordinary parquet scan over
  * the manifest's file list ([[FastScan]]), so pushdown, pruning and
  * split planning are unchanged. Driver-side work is manifest-sized,
  * and building a read runs no Spark job. */
object Versioned {

  private val log = org.apache.logging.log4j.LogManager.getLogger(
    "graft.store.Versioned")

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** FileSystem handle + fully-qualified root path for any scheme.
    * `file://` resolves to the CHECKSUMMED LocalFileSystem by default,
    * which shadows every manifest/data op with .crc sidecar bookkeeping
    * — measurable pure overhead at lakehouse file counts (the canary's
    * 1900-file vacuum leg), and no integrity win here (HDFS/object
    * stores carry their own checksums; local is a test/dev path).
    * Unwrap to the raw filesystem. */
  private def fsRoot(root: String): (FileSystem, Path) = {
    val raw = new Path(root)
    val fs = raw.getFileSystem(hadoopConf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    (fs, fs.makeQualified(raw))
  }

  private def manifestPath(rootPath: Path, v: Long): Path =
    new Path(rootPath, s"manifest-v$v.json")

  // ------------------------------------------------------------------
  // DELETION VECTORS (merge-on-read row-level delete). A DV commit
  // removes rows WITHOUT rewriting data files: it publishes a parquet
  // sidecar of (file, row_index) tombstones under `dv/<uuid>/`, listed
  // in the manifest alongside the data files. Readers anti-join the
  // tombstones against the scan's (_metadata.file_path,
  // _metadata.row_index) — deleted rows vanish at read time, zero data
  // bytes move at delete time. At 100 TB this is THE delete
  // economics: a GDPR delete of 10 rows from a 1 GB z-ordered file
  // costs a kilobyte of tombstones, not a gigabyte rewrite (Delta's
  // deletion vectors / Iceberg's positional delete files).
  // [[commitPurgeDeleteVectors]] is the compaction move that folds
  // tombstones back into rewritten files when they accumulate.
  // Copy-on-write rewrites (merge/delete/compact/clone) REQUIRE a
  // purge first: they re-stage rows from raw file scans, which would
  // silently resurrect tombstoned rows.

  /** Is this manifest entry a deletion-vector file? Data lives under
    * `data/<uuid>/`, tombstones under `dv/<uuid>/` — no data path
    * contains a path component exactly "dv". Handles the absolute
    * spellings clones produce. */
  private[store] def isDvEntry(f: String): Boolean =
    f.startsWith("dv/") || f.contains("/dv/")

  /** Is this manifest entry a CHANGE-DATA sidecar (`cdc/<uuid>/`)? A
    * copy-on-write merge/delete committed with cdc=true stages its
    * exact row changes there so the change feed stays derivable across
    * rewrites (Delta's _change_data directory). CDC files are
    * metadata-for-consumers, never scannable table data. */
  private[store] def isCdcEntry(f: String): Boolean =
    f.startsWith("cdc/") || f.contains("/cdc/")

  /** Manifest entries split into (data files, deletion-vector files).
    * CDC sidecars are NEITHER: they are excluded from the data side so
    * every read/stats/bloom/compaction path ignores them, and from the
    * dv side so tombstone application never scans them. */
  private[store] def splitEntries(files: Seq[String])
      : (Seq[String], Seq[String]) =
    (files.filterNot(f => isDvEntry(f) || isCdcEntry(f)),
      files.filter(isDvEntry))

  /** The tombstone key of every row in `df`'s scan: the file's
    * manifest-relative spelling (`data/<uuid>/<part>`, the last three
    * path components of the absolute scan path — stable across root
    * moves, unlike the absolute URI) and the row's position. */
  private def withDvKey(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, substring_index}
    df.withColumn("__dv_file",
        substring_index(col("_metadata.file_path"), "/", -3))
      .withColumn("__dv_idx", col("_metadata.row_index"))
  }

  /** The tombstone key columns are reserved on DV-carrying tables:
    * [[withDvKey]]'s withColumn would silently REPLACE same-named user
    * columns, so every read of such a table would return corrupted
    * values after the anti-join's final select. Rejected loudly at
    * DV-commit time — tables that never commit tombstones may use any
    * names. */
  private def requireNoDvKeyColumns(
      schema: org.apache.spark.sql.types.StructType, root: String,
      op: String): Unit = {
    val clash = schema.fieldNames
      .filter(n => n == "__dv_file" || n == "__dv_idx")
    require(clash.isEmpty,
      s"$op on $root: column name(s) ${clash.mkString(", ")} are " +
        "reserved for deletion-vector keys - rename the column(s) or " +
        "use copy-on-write commitMerge/commitDelete on this table")
  }

  /** Default cap on tombstone parquet bytes that still BROADCAST into
    * every read (overridable via `graft.versioned.dv.broadcastBytes`
    * in the Hadoop conf). Tombstones are (40-byte path, long) rows
    * that decompress several-fold from parquet, and Spark hard-fails
    * any broadcast at 8 GB — so unbounded accumulation between purges
    * must degrade to a shuffle, not ship every tombstone through the
    * driver to every task. */
  private val DvBroadcastBytesDefault = 32L << 20

  private def dvBroadcastBytes: Long =
    Option(hadoopConf.get("graft.versioned.dv.broadcastBytes"))
      .map(_.toLong).getOrElse(DvBroadcastBytesDefault)

  /** Parquet bytes of a manifest's tombstone sidecars — the number
    * [[history]] surfaces as `dv_bytes` and [[applyDv]] sizes its
    * join strategy by. One driver-side getFileStatus per dv file
    * (dv files are deleted-rows-sized and few). */
  private def dvFileBytes(fs: FileSystem, rootPath: Path,
                          dvFiles: Seq[String]): Long =
    dvFiles.map(f => fs.getFileStatus(resolve(rootPath, f)).getLen).sum

  /** Apply `dvFiles`' tombstones to a scan of this table's data files:
    * anti-join on (relative file, row index). The tombstone side is
    * deleted-rows-sized, not table-sized — BROADCAST while it stays
    * under [[dvBroadcastBytes]]; past that (tombstones accumulated
    * toward a purge) the same anti-join runs as a shuffled sort-merge,
    * which is slower but bounded at any accumulation level. The read
    * stays exact either way; `commitPurgeDeleteVectors` restores the
    * read-optimized shape. */
  private def applyDv(spark: SparkSession, fs: FileSystem,
                      rootPath: Path,
                      df: DataFrame, dvFiles: Seq[String]): DataFrame = {
    if (dvFiles.isEmpty) return df
    import org.apache.spark.sql.functions.{broadcast, col}
    val dv = dataScan(spark, rootPath, dvFiles, None)
    val bytes = dvFileBytes(fs, rootPath, dvFiles)
    val dvSide =
      if (bytes <= dvBroadcastBytes) broadcast(dv)
      else {
        log.warn(
          s"$rootPath carries $bytes tombstone parquet bytes " +
            s"(> broadcast cap $dvBroadcastBytes): reads fall back to " +
            "a shuffled anti-join; run commitPurgeDeleteVectors to " +
            "restore the read-optimized table")
        dv.hint("merge")
      }
    val cols = df.columns
    withDvKey(df)
      .join(dvSide, Seq("__dv_file", "__dv_idx"), "left_anti")
      .select(cols.map(col).toSeq: _*)
  }

  /** Loud guard for copy-on-write ops that re-stage rows from raw file
    * scans — running them over live tombstones would resurrect deleted
    * rows into the rewritten files. */
  private def requireNoDv(dvFiles: Seq[String], root: String,
                          op: String): Unit =
    require(dvFiles.isEmpty,
      s"$op on $root requires materializing its ${dvFiles.size} " +
        "deletion-vector file(s) first (commitPurgeDeleteVectors): a " +
        "copy-on-write rewrite over live tombstones would resurrect " +
        "deleted rows")

  /** The only column types whose values survive a `cast("long")`
    * losslessly and order-preservingly — the precondition for every
    * sidecar-driven (long-vector) pruning decision here. */
  private[store] def integralType(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** Only the DEFAULT (UTF8_BINARY) string type participates in
    * string skip keys: the prefix key is monotone in BYTE order and
    * the hash key discriminates by exact bytes, so a collated column
    * (e.g. UTF8_LCASE, where 'A' = 'a' but the bytes differ) would
    * make both unsound. Spark 4 collations carry a distinct
    * `StringType(collationId)` that fails this equality, so collated
    * columns degrade to no-pruning automatically. */
  private[store] def stringType(
      dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == org.apache.spark.sql.types.StringType

  // ------------------------------------------------------------------
  // STRING skip keys. The sidecars are fixed-width LONG vectors, so a
  // string column participates in skipping through two long-valued key
  // functions, each computed by the IDENTICAL arithmetic on the writer
  // (a Catalyst column over the scan) and the prober (driver-side over
  // a literal), so the two can never drift:
  //
  //  - STATS (range) key: the first 8 UTF-8 bytes as a big-endian
  //    unsigned integer, zero-padded, remapped into signed order by
  //    subtracting 2^63 (= flipping the top bit). This truncated
  //    prefix is MONOTONE w.r.t. UTF-8 byte-wise string order — a ≤ b
  //    implies prefixKey(a) ≤ prefixKey(b) — which is all interval
  //    pruning needs; Delta keeps truncated string min/max for the
  //    same reason. Range conjuncts on strings therefore translate to
  //    prefix-space bounds (INCLUSIVE on both ends: `url > L` implies
  //    only prefixKey(url) >= prefixKey(L), never +1).
  //  - BLOOM (equality) key: xxhash64 of the string (seed 42, the
  //    engine-wide Catalyst default), giving point lookups and merge
  //    key probes full-value discrimination that an 8-byte prefix
  //    can't (URL tables share long scheme+host prefixes).
  //
  // A column that is neither integral nor string still contributes no
  // sidecar entries and never prunes — metadata stays optional.

  /** The order-preserving stats key of a string column, as a Catalyst
    * expression (codegen'd builtins only): big-endian unsigned of the
    * first 8 UTF-8 bytes, shifted into signed long order. `conv`
    * parses the 16 hex digits as unsigned 64-bit; the subtraction runs
    * in DECIMAL(20,0) (exact for the full u64 domain) and the final
    * long cast is ANSI-safe because the result is in [-2^63, 2^63).
    * Null strings stay null (no stats contribution). */
  private[store] def prefixKeyCol(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{conv, encode, hex, lit, substring}
    val first8 = substring(encode(c, "UTF-8"), 1, 8)
    val padded = org.apache.spark.sql.functions.rpad(first8, 8,
      Array[Byte](0))
    (conv(hex(padded), 16, 10)
      .cast(org.apache.spark.sql.types.DecimalType(20, 0))
      - lit(new java.math.BigDecimal("9223372036854775808")))
      .cast("long")
  }

  /** Driver-side twin of [[prefixKeyCol]] for probe literals. */
  private[graft] def prefixKeyOf(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var u = 0L
    var i = 0
    while (i < 8) {
      u = (u << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
      i += 1
    }
    u ^ Long.MinValue // unsigned -> signed, order-preserving
  }

  /** The bloom (equality) key of a string column: xxhash64(value),
    * seed 42 — the same Catalyst expression the writer's scan runs. */
  private[store] def hashKeyCol(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.xxhash64(c)

  /** Driver-side twin of [[hashKeyCol]] for probe literals — evaluated
    * through the identical Catalyst expression. */
  private[graft] def hashKeyOf(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(s)), 42L)
      .eval(null).asInstanceOf[Long]

  /** Highest committed version at `root`, or 0 if none. */
  def latestVersion(root: String): Long = {
    val (fs, rootPath) = fsRoot(root)
    highest(rootNames(fs, rootPath), "manifest")
  }

  /** Entry names of the table root; empty when it doesn't exist. */
  private def rootNames(fs: FileSystem, rootPath: Path): Seq[String] =
    rootListing(fs, rootPath).map(_.getPath.getName)

  /** One listing of the table root; empty when it doesn't exist. */
  private def rootListing(fs: FileSystem, rootPath: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    try fs.listStatus(rootPath).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The n of every `<prefix>-v<n>.json` among root entry `names`. */
  private def versionsOf(names: Seq[String], prefix: String): Seq[Long] =
    names.collect {
      case n if n.startsWith(prefix + "-v") && n.endsWith(".json") =>
        n.stripPrefix(prefix + "-v").stripSuffix(".json").toLong
    }

  private def highest(names: Seq[String], prefix: String): Long =
    versionsOf(names, prefix).foldLeft(0L)(math.max)

  /** The snapshot at `version` (latest when 0): ONE listing of the
    * root yields the highest manifest and every state and sidecar
    * version, then ONE manifest open. Every read resolves "latest"
    * here, every commit through [[latest]], and nowhere else. */
  private[graft] def snapshot(root: String, version: Long = 0L,
                              prior: Option[Snapshot] = None): Snapshot = {
    val s = snapshotOf(root, version, prior)
    require(s.nonEmpty, s"no committed version 0 at $root")
    s.get
  }

  /** [[snapshot]] of a table that may have no commit yet (None when
    * `version` is 0 and nothing was ever committed). `prior` comes back
    * unchanged when it already holds the resolved version: published
    * manifests never change, so a long-lived reader pays nothing for a
    * pinned version and one listing for "latest" while the table is
    * idle. */
  private[graft] def snapshotOf(root: String, version: Long,
                                prior: Option[Snapshot] = None)
      : Option[Snapshot] = {
    if (version != 0L && prior.exists(_.version == version)) return prior
    Some(resolveSnapshot(root, version, prior)).filter(_.version > 0L)
  }

  /** The latest snapshot, or the empty one (version 0, no entries) of
    * a table nothing was committed to yet: the parent every commit
    * resolves once, stages under and publishes on top of. */
  private[graft] def latest(root: String): Snapshot =
    resolveSnapshot(root, 0L, None)

  private def resolveSnapshot(root: String, version: Long,
                              prior: Option[Snapshot]): Snapshot = {
    val (fs, rootPath) = fsRoot(root)
    snapshotIn(root, fs, rootPath, rootNames(fs, rootPath), version, prior)
  }

  /** [[resolveSnapshot]] from root entry `names` the caller listed. */
  private def snapshotIn(root: String, fs: FileSystem, rootPath: Path,
                         names: Seq[String], version: Long,
                         prior: Option[Snapshot]): Snapshot = {
    val v = if (version == 0L) highest(names, "manifest") else version
    prior.filter(_.version == v).getOrElse {
      require(v == 0L || names.contains(manifestPath(rootPath, v).getName),
        s"no committed version $v at $root")
      val (header, entries) =
        if (v == 0L) ("", Nil) else readManifest(fs, rootPath, v)
      def newestUpTo(prefix: String): Long =
        versionsOf(names, prefix).filter(_ <= v).foldLeft(0L)(math.max)
      Snapshot(root, fs, rootPath, v, header, entries,
        ddlVersion = highest(names, SchemaDdlPrefix),
        propertiesVersion = highest(names, "properties"),
        constraintsVersion = highest(names, "constraints"),
        statsVersion = newestUpTo("stats"),
        bloomVersion = newestUpTo("bloom"))
    }
  }

  /** (header line, root-relative file list) of manifest v. The header
    * carries the writer token and the txn and op stamps
    * ([[headerField]]). Pre-r9 manifests carried absolute paths;
    * [[resolve]] accepts both. */
  private def readManifest(fs: FileSystem, rootPath: Path, v: Long)
      : (String, Seq[String]) = {
    val in = fs.open(manifestPath(rootPath, v))
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    val lines = text.linesIterator.map(_.trim).toList
    // one quoted file path per line between header and footer — no
    // JSON parser dependency needed for a list-of-strings manifest
    val files = lines.filter(_.startsWith("\""))
      .filterNot(_.startsWith("\"writer\""))
      .map(_.stripPrefix("\"").stripSuffix(",").stripSuffix("\""))
    (lines.headOption.getOrElse(""), files)
  }

  /** The first line of manifest v, or "" when it was vacuumed. */
  private def manifestHeader(fs: FileSystem, rootPath: Path,
                             v: Long): String =
    try {
      val in = fs.open(manifestPath(rootPath, v))
      try String.valueOf(new java.io.BufferedReader(
        new java.io.InputStreamReader(in,
          java.nio.charset.StandardCharsets.UTF_8)).readLine())
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => "" }

  /** Manifest `v` (header, entries) read inside the version range
    * (`from`, `to`] of `root`; none at 0 (table birth). Vacuum retires
    * history from the bottom, so a manifest missing below a committed
    * `to` was vacuumed: the range is no longer derivable, and the
    * reader gets the re-seed error, not a raw FileNotFoundException.
    * (A `to` above the latest version is "not committed", refused by
    * the [[snapshot]] that resolves it.) */
  private def rangeManifest(fs: FileSystem, rootPath: Path, root: String,
                            from: Long, to: Long)(v: Long)
      : (String, Seq[String]) =
    if (v == 0L) ("", Nil)
    else try readManifest(fs, rootPath, v)
    catch { case _: java.io.FileNotFoundException =>
      throw new IllegalArgumentException(
        s"version $v of $root was vacuumed: the range ($from, $to] is " +
          "no longer derivable - re-seed from a retained snapshot and " +
          "continue from there")
    }

  /** A quoted field of a manifest header line: "writer", "txn" (the
    * `appId:batchId` stamp) or "op" (the audit stamp). */
  private def headerField(header: String, key: String): Option[String] =
    ("\"" + key + "\":\\s*\"([^\"]+)\"").r.findFirstMatchIn(header)
      .map(_.group(1))

  private[store] def resolve(rootPath: Path, f: String): Path =
    if (f.contains("://") || f.startsWith("/")) new Path(f)
    else new Path(rootPath, f)

  private def writeFile(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Schemes whose `rename` is copy+delete and silently REPLACES the
    * destination (object stores): exclusive publish must go through the
    * conditional-put branch instead of trusting rename. Extendable via
    * `graft.versioned.condput.schemes` (comma-separated) in the Hadoop
    * conf; `mocks3` is the deterministic test double. */
  private def condPutSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "mocks3") ++
      Option(hadoopConf.get("graft.versioned.condput.schemes"))
        .map(_.split(',').map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)

  /** Path-capability keys any ONE of which marks the FileSystem as
    * supporting an ATOMIC conditional create (If-None-Match PUT
    * surfaced as `create(path, overwrite = false)`). Without that
    * capability, S3A's `create(overwrite = false)` is a non-atomic
    * HEAD-then-PUT (and `fs.s3a.create.performance` skips even the
    * HEAD), so two racing writers can both pass create() and the later
    * close() silently replaces the earlier manifest — a lost commit,
    * the exact failure the conditional-put branch exists to prevent.
    * The key list is configurable because Hadoop releases name the
    * capability differently; deployments can also assert capability
    * out-of-band with `graft.versioned.condput.assumeCapable=true`
    * (e.g. Hadoop 3.4.2+ with conditional create enabled and
    * `fs.s3a.create.performance` off). */
  private def condCreateCapabilityKeys: Seq[String] =
    Option(hadoopConf.get("graft.versioned.condput.capabilities"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq(
        "fs.capability.conditional.create",
        "fs.capability.conditional.overwrite",
        "fs.s3a.capability.conditional.create"))

  /** Fail FAST (loudly, before any bytes move) when the object-store
    * branch is about to trust a `create(overwrite = false)` that the
    * FileSystem does not implement as an atomic conditional PUT. A
    * quietly non-exclusive create is strictly worse than an error: it
    * passes every single-writer test and loses commits only under the
    * concurrent-writer race it was supposed to win. */
  private def requireConditionalCreate(fs: FileSystem, p: Path): Unit = {
    if (hadoopConf.getBoolean("graft.versioned.condput.assumeCapable",
        false)) return
    val capable = condCreateCapabilityKeys.exists { key =>
      try fs.hasPathCapability(p, key)
      catch { case _: IllegalArgumentException => false }
    }
    if (!capable) throw new UnsupportedOperationException(
      s"exclusive publish on ${p.toUri.getScheme}:// needs an ATOMIC " +
        "conditional create (If-None-Match PUT); this FileSystem " +
        s"advertises none of ${condCreateCapabilityKeys.mkString(", ")}" +
        ". Without it a concurrent writer can silently replace a " +
        "published manifest (lost commit). Use Hadoop 3.4.2+ with " +
        "conditional creates enabled (and fs.s3a.create.performance " +
        "OFF), add your Hadoop's capability key to " +
        "graft.versioned.condput.capabilities, or assert capability " +
        "with graft.versioned.condput.assumeCapable=true")
  }

  /** True when `t` (or a cause) is the surface of a LOST conditional
    * write — the If-None-Match precondition failing at create() or at
    * close(). Hadoop surfaces the close()-time 412 as
    * RemoteFileChangedException (hadoop-aws, matched by name since the
    * jar is not a compile-time dependency) or as an IOException
    * carrying the S3 PreconditionFailed error; all of them mean "a
    * racer published first", which the commit loop handles by retrying
    * the next version — never by aborting. */
  private[store] def isCondWriteConflict(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).exists {
      e =>
        e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
        e.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
        e.getClass.getSimpleName == "RemoteFileChangedException" || {
          val m = String.valueOf(e.getMessage)
          e.isInstanceOf[java.io.IOException] &&
            (m.contains("PreconditionFailed") ||
              m.contains("Status Code: 412") ||
              m.toLowerCase.contains("at least one of the pre-conditions"))
        }
    }

  /** Atomically publish a fully-written `tmp` as `target`, failing —
    * never replacing — if `target` already exists; `tmp` is consumed
    * either way. Returns true on success, false on a detected
    * collision. The one exclusive-create primitive every versioned
    * root-level file (manifests, constraint states) publishes
    * through. */
  private def exclusiveCreate(fs: FileSystem, tmp: Path,
                              target: Path): Boolean = {
    val scheme = String.valueOf(target.toUri.getScheme).toLowerCase
    if (condPutSchemes(scheme)) {
        // Object stores: rename is copy+delete and silently replaces,
        // so the exclusive primitive is the CONDITIONAL PUT
        // (If-None-Match), surfaced through the FileSystem contract as
        // create(path, overwrite = false). On S3A the object
        // materializes whole at close() (one PUT), so publication
        // stays atomic; a racer's create of the same manifest fails
        // with FileAlreadyExistsException — or, when the store checks
        // the precondition at PUT time, with a 412 AT CLOSE()
        // (RemoteFileChangedException) — and retries the next version.
        // Both require the FS to actually implement conditional
        // creates; probe before trusting it.
        requireConditionalCreate(fs, target)
        val success = try {
          val out = fs.create(target, false)
          try {
            val in = fs.open(tmp)
            try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536,
              false)
            finally in.close()
          } finally out.close()
          true
        } catch {
          case e: Throwable if isCondWriteConflict(e) => false
        }
        fs.delete(tmp, false)
        success
      } else if ("file" == scheme) {
        // POSIX link(2) is atomic create-exclusive: the one primitive a
        // local FS gives us where rename(2) silently REPLACES.
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          fs.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            fs.delete(tmp, false); false
        }
      } else {
        // HDFS-contract rename fails when the destination exists.
        val renamed =
          try fs.rename(tmp, target)
          catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            false }
        if (!renamed) { fs.delete(tmp, false); false } else true
      }
  }

  /** [[exclusiveCreate]] for manifests, plus a second check: re-read
    * the published manifest's writer token. On a store whose rename is
    * not strictly exclusive, a racer may have replaced us between
    * publish and here — treat that as a loss and retry rather than
    * silently orphaning the other writer's commit. */
  private def publishExclusive(fs: FileSystem, tmp: Path, target: Path,
                               writer: String, rootPath: Path,
                               v: Long): Boolean =
    exclusiveCreate(fs, tmp, target) &&
      headerField(manifestHeader(fs, rootPath, v), "writer")
        .contains(writer)

  // ------------------------------------------------------------------
  // CHECK CONSTRAINTS (Delta's table constraints): named SQL
  // predicates every staged write batch must satisfy before its
  // commit publishes. Stored in `constraints.json` beside the
  // manifests — table-level metadata OUTSIDE the version history,
  // like the skipping sidecars (a RESTORE changes data, not rules).
  // Enforcement rides [[stage]], the single choke point every data
  // write passes through (append, txn-append, overwrite, merge,
  // delete survivors, replaceWhere, compaction), so no commit path
  // can forget it; one aggregate pass over the staged rows when
  // constraints exist, zero cost otherwise. SQL semantics: a NULL
  // predicate PASSES (violation = provably FALSE), exactly the
  // standard's CHECK behavior.

  private def constraintsPath(rootPath: Path): Path =
    new Path(rootPath, "constraints.json")

  /** Table-level key→value states (CHECK constraints, table
    * properties) are VERSIONED (`<prefix>-v<n>.json`, highest n wins)
    * and published through the same exclusive-create primitive as
    * manifests, so two concurrent ALTERs compose instead of one losing
    * its entry to a read-modify-write race: the state is read AT
    * version n0 and published AT exactly n0+1 — a true CAS. Vacuum
    * never touches root-level state files. */
  private def kvVersionPath(rootPath: Path, prefix: String,
                            n: Long): Path =
    new Path(rootPath, s"$prefix-v$n.json")

  private def latestKvVersion(fs: FileSystem, rootPath: Path,
                              prefix: String): Long =
    highest(rootNames(fs, rootPath), prefix)

  private def constraintsVersionPath(rootPath: Path, n: Long): Path =
    kvVersionPath(rootPath, "constraints", n)

  /** Table schema of record (`schema.json`, maintained by [[stage]] at
    * every data write): what makes a ZERO-data-file version — a legal
    * state after a delete that removes every row — readable as a typed
    * empty frame, and what lets metadata paths learn the schema without
    * a parquet footer read. Advisory for skipping, authoritative only
    * for the empty-table read. */
  private def schemaPath(rootPath: Path): Path =
    new Path(rootPath, "schema.json")

  /** The persisted schema of record, when one was ever written. */
  def tableSchema(root: String): Option[org.apache.spark.sql.types.StructType] = {
    val (fs, rootPath) = fsRoot(root)
    val p = schemaPath(rootPath)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(text))
      .toOption.collect {
        case s: org.apache.spark.sql.types.StructType => s }
  }

  private def writeTableSchema(fs: FileSystem, rootPath: Path,
                               schema: org.apache.spark.sql.types.StructType)
      : Unit =
    try writeFile(fs, schemaPath(rootPath), schema.json)
    catch { case scala.util.control.NonFatal(_) => () }

  /** Typed EMPTY frame in the schema of record — the read of a version
    * whose manifest lists zero data files. A schema-DDL state (which
    * holds the LOGICAL schema) outranks the legacy advisory file. */
  private def emptyTyped(spark: SparkSession, s: Snapshot): DataFrame = {
    val schema = s.ddl.map(_.schema)
      .orElse(tableSchema(s.root)).getOrElse(
        throw new IllegalStateException(
          s"version at ${s.root} lists no data files and no schema of " +
            "record (schema.json) survives - the table predates " +
            "empty-state support; recommit any data to repair"))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def jsonUnesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case 'u' if i + 6 <= s.length =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case other => b += other; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** The table's CHECK constraints, name → SQL predicate (empty when
    * none were ever added). Reads the highest `constraints-v<n>.json`,
    * falling back to the legacy unversioned `constraints.json`. */
  def checkConstraints(root: String): Seq[(String, String)] = {
    val (fs, rootPath) = fsRoot(root)
    constraintsStateAt(fs, rootPath,
      latestKvVersion(fs, rootPath, "constraints"))
  }

  /** Constraint state as of constraints-version `n` (0 = the legacy
    * unversioned file, or nothing). */
  private[store] def constraintsStateAt(fs: FileSystem, rootPath: Path,
                                 n: Long): Seq[(String, String)] =
    kvFileState(fs,
      if (n > 0L) constraintsVersionPath(rootPath, n)
      else constraintsPath(rootPath))

  /** Parse one versioned key→value state file: a `"key": "value"`
    * pair per line, written by [[publishKv]] — no JSON parser
    * dependency needed. */
  private def kvFileState(fs: FileSystem,
                          p: Path): Seq[(String, String)] = {
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    "\"((?:[^\"\\\\]|\\\\.)*)\":\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(text)
      .map(m => (jsonUnesc(m.group(1)), jsonUnesc(m.group(2)))).toSeq
  }

  /** Publish a new key→value state through the manifest's exclusive-
    * create primitive: `transform` is re-applied to the FRESHLY-READ
    * state on every collision retry, so concurrent ALTERs compose
    * instead of losing one entry to a read-modify-write race. Returns
    * the n of the published `<prefix>-v<n>.json`. */
  private def publishKv(root: String, prefix: String,
      readAt: (FileSystem, Path, Long) => Seq[(String, String)],
      transform: Seq[(String, String)] => Seq[(String, String)]): Long = {
    val (fs, rootPath) = fsRoot(root)
    fs.mkdirs(rootPath)
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      // CAS shape: the state is read AT version n0 and published AT
      // n0+1 — a racer landing n0+1 first fails our exclusive create
      // and we re-derive from THEIR state. (Reading "latest" and
      // re-listing for the slot separately is a torn read: a commit
      // between the two silently loses its entry.)
      val n0 = latestKvVersion(fs, rootPath, prefix)
      val cons = transform(readAt(fs, rootPath, n0))
      val body = "{\n" + cons.map { case (c, e) =>
        s"""  "${jsonEsc(c)}": "${jsonEsc(e)}"""" }.mkString(",\n") +
        "\n}"
      val target = kvVersionPath(rootPath, prefix, n0 + 1L)
      val tmp = new Path(rootPath,
        s".$prefix-v${n0 + 1L}-${java.util.UUID.randomUUID()}.tmp")
      writeFile(fs, tmp, body)
      if (exclusiveCreate(fs, tmp, target)) return n0 + 1L
      // lost the race: re-read the racer's state and re-apply
    }
    throw new IllegalStateException(
      s"gave up publishing $prefix state to $root after 20 retries")
  }

  private def publishConstraints(root: String,
      transform: Seq[(String, String)] => Seq[(String, String)]): Unit =
    publishKv(root, "constraints", constraintsStateAt, transform)

  /** Add a named CHECK constraint. The predicate is PARSED first (a
    * typo'd expression would otherwise poison every subsequent write),
    * then the CURRENT snapshot is validated (Delta does the same):
    * adding a rule the existing data already breaks would make every
    * later commit fail for rows the writer never touched. Re-adding a
    * name replaces its predicate (after the same validation). */
  def addCheckConstraint(spark: SparkSession, root: String,
                         name: String, predicate: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    // parse BEFORE storing — throws ParseException on malformed SQL
    // whether or not the table holds data yet (functions.expr defers
    // parsing to analysis, so invoke the parser directly)
    spark.sessionState.sqlParser.parseExpression(predicate)
    val parsed = expr(predicate)
    if (latestVersion(root) > 0) {
      val bad = read(spark, root)
        .filter(not(coalesce(parsed, lit(true)))).count()
      require(bad == 0L,
        s"cannot add CHECK constraint $name: $bad existing rows of " +
          s"$root already violate ($predicate)")
    }
    publishConstraints(root,
      _.filterNot(_._1 == name) :+ (name -> predicate))
  }

  /** Remove a CHECK constraint by name (no-op when absent). */
  def dropCheckConstraint(root: String, name: String): Unit =
    publishConstraints(root, _.filterNot(_._1 == name))

  /** The CDF table property key (Delta's
    * `delta.enableChangeDataFeed` role): when "true", EVERY
    * copy-on-write rewrite commit (merge, update, delete,
    * replaceWhere, conditional merge) stages exact cdc sidecars, so
    * [[readChangeFeed]] stays derivable across SQL DML without each
    * statement opting in. */
  val EnableChangeDataFeedKey = "graft.enableChangeDataFeed"

  /** Table properties: versioned key→value metadata beside the
    * manifests (`properties-v<n>.json`), published through the same
    * CAS as constraints. */
  def tableProperties(root: String): Seq[(String, String)] = {
    val (fs, rootPath) = fsRoot(root)
    propertiesStateAt(fs, rootPath,
      latestKvVersion(fs, rootPath, "properties"))
  }

  private[store] def propertiesStateAt(fs: FileSystem, rootPath: Path,
                                n: Long): Seq[(String, String)] =
    if (n == 0L) Nil
    else kvFileState(fs, kvVersionPath(rootPath, "properties", n))

  /** Set (or replace) table properties. */
  def setTableProperties(root: String,
                         props: Seq[(String, String)]): Unit = {
    require(props.nonEmpty, "no properties to set")
    publishKv(root, "properties", propertiesStateAt,
      state => state.filterNot(p => props.exists(_._1 == p._1)) ++ props)
  }

  /** Remove table properties by key (absent keys are no-ops). */
  def unsetTableProperties(root: String, keys: Seq[String]): Unit =
    publishKv(root, "properties", propertiesStateAt,
      _.filterNot(p => keys.contains(p._1)))

  /** Is the change-data-feed property on? Rewrite commits read it
    * from their parent [[Snapshot]] instead (no second listing). */
  def cdfEnabled(root: String): Boolean = cdfEnabled(tableProperties(root))

  private[store] def cdfEnabled(props: Seq[(String, String)]): Boolean =
    props.exists(p => p._1 == EnableChangeDataFeedKey &&
      p._2.equalsIgnoreCase("true"))

  // ================= schema DDL (metadata-only column mapping) =====
  //
  // ALTER TABLE ADD COLUMNS / RENAME COLUMN / DROP COLUMN as pure
  // METADATA commits — no data file is rewritten, so renaming a column
  // on a 100 TB table costs one small state publish plus one empty
  // manifest commit (Delta's column-mapping 'name' mode plays the same
  // trick; ref stores have no schema DDL at all — their Go structs ARE
  // the schema — so this is lakehouse surface the reference never
  // needed).
  //
  // Model: files always keep their PHYSICAL column names (the names
  // current when each file was written — renames never change them);
  // a versioned state file `schemaddl-v<n>.json` records the LOGICAL
  // schema, each renamed field carrying its physical name in field
  // metadata under [[PhysicalNameKey]]. Reads scan in physical space
  // (explicit read schema, so files predating an added column
  // null-fill it) and project to logical at the facade boundary;
  // writes translate logical→physical before staging. Stats/bloom
  // sidecars and partition paths stay keyed in physical space — so
  // file skipping keeps working across renames, with probe KEYS
  // translated once at the pruning entry points. Everything here is
  // INERT (byte-identical legacy code paths) until a DDL state exists.

  /** Field-metadata key carrying a renamed column's physical (file)
    * name. Absent = physical == logical. */
  val PhysicalNameKey = "graft.physical"

  private val SchemaDdlPrefix = "schemaddl"

  /** One published schema-DDL state: the logical schema of record,
    * the first manifest version it applies to (reads at earlier
    * versions use the previous state, or the legacy footer-driven
    * path), and every physical name ever dropped (so a re-added
    * column of the same name gets a FRESH physical name instead of
    * resurrecting old file bytes). */
  final case class SchemaDdl(schema: org.apache.spark.sql.types.StructType,
                             asOf: Long, dropped: Seq[String]) {
    def physicalOf(f: org.apache.spark.sql.types.StructField): String =
      if (f.metadata.contains(PhysicalNameKey))
        f.metadata.getString(PhysicalNameKey)
      else f.name

    /** logical name → physical name, every field. */
    def mapping: Seq[(String, String)] =
      schema.fields.toSeq.map(f => f.name -> physicalOf(f))

    def physicalName(logical: String): Option[String] =
      schema.fields.find(_.name == logical).map(physicalOf)

    /** The schema data files are READ with: physical names, all
      * nullable (files predating an added column have no bytes for
      * it — the parquet reader serves null). */
    def physicalReadSchema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        org.apache.spark.sql.types.StructField(physicalOf(f),
          f.dataType, nullable = true)))

    /** Does any field's logical spelling differ from its physical? */
    def renames: Boolean = mapping.exists(p => p._1 != p._2)
  }

  private def schemaDdlStateAt(fs: FileSystem, rootPath: Path,
                               n: Long): Seq[(String, String)] =
    if (n == 0L) Nil
    else kvFileState(fs, kvVersionPath(rootPath, SchemaDdlPrefix, n))

  private def parseSchemaDdl(kv: Seq[(String, String)])
      : Option[SchemaDdl] = {
    val m = kv.toMap
    for {
      sj <- m.get("schema")
      s <- scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(sj)).toOption
        .collect { case t: org.apache.spark.sql.types.StructType => t }
    } yield SchemaDdl(s, m.get("asOfManifest").map(_.toLong)
        .getOrElse(1L),
      m.get("dropped").toSeq.flatMap(_.split(','))
        .map(_.trim).filter(_.nonEmpty))
  }

  // published states are immutable: cache parses per (root, n)
  private val ddlCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Option[SchemaDdl]](64, 0.75f,
        true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[SchemaDdl]]): Boolean =
        size() > 256
    })

  private def schemaDdlAtN(fs: FileSystem, rootPath: Path,
                           n: Long): Option[SchemaDdl] = {
    val key = s"$rootPath#$n"
    val c = ddlCache.get(key)
    if (c != null) c
    else {
      val v = parseSchemaDdl(schemaDdlStateAt(fs, rootPath, n))
      ddlCache.put(key, v)
      v
    }
  }

  /** The schema-DDL state governing a read at manifest `version`
    * (0 = latest): the newest published state whose `asOf` has been
    * reached. None = the table never saw schema DDL (or the read
    * time-travels to before the first one) — every code path then
    * takes its legacy footer-driven branch. */
  def schemaDdl(root: String, version: Long = 0L): Option[SchemaDdl] = {
    val (fs, rootPath) = fsRoot(root)
    schemaDdlAsOf(fs, rootPath, latestKvVersion(fs, rootPath,
      SchemaDdlPrefix), if (version == 0L) Long.MaxValue else version)
  }

  /** The newest of states 1..`latest` whose `asOf` manifest `v` has
    * reached. */
  private[store] def schemaDdlAsOf(fs: FileSystem, rootPath: Path,
                                   latest: Long, v: Long)
      : Option[SchemaDdl] =
    (latest to 1L by -1L).iterator.map(schemaDdlAtN(fs, rootPath, _))
      .collectFirst { case Some(s) if s.asOf <= v => s }

  /** Project a PHYSICAL-space frame (a data-file scan) into `s`'s
    * logical schema, null-filling columns the files predate and
    * carrying `extra` passthrough columns (internal keys a caller
    * captured before projecting) unchanged. */
  private[graft] def toLogicalFrame(df: DataFrame, s: SchemaDdl,
                                    extra: Seq[String] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val present = df.columns.toSet
    val cols = s.schema.fields.toSeq.map { f =>
      val p = s.physicalOf(f)
      (if (present(p)) col(p) else lit(null).cast(f.dataType)).as(f.name)
    } ++ extra.filter(present).map(col)
    df.select(cols: _*)
  }

  /** Rename a LOGICAL-space frame (user input, or an internal scan
    * already projected logical) into physical column names for
    * staging. Columns outside the state (schema evolution on write,
    * internal shadow columns added later) pass through unrenamed. */
  private[store] def toPhysicalFrame(df: DataFrame, s: SchemaDdl)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val byLogical = s.mapping.toMap
    df.select(df.columns.toSeq.map { c =>
      byLogical.get(c) match {
        case Some(p) if p != c => col(c).as(p)
        case _ => col(c)
      }
    }: _*)
  }

  /** Translate probe-map KEYS (logical column names from facade
    * callers / user predicates) into the sidecars' physical space.
    * Unknown keys pass through (they can only fail to match a sidecar
    * column, which admits — never prunes wrongly). */
  private def physProbeKeys[T](s: Option[SchemaDdl],
                               m: Map[String, T]): Map[String, T] =
    s match {
      case None => m
      case Some(st) =>
        m.map { case (k, v) => st.physicalName(k).getOrElse(k) -> v }
    }

  /** Translate a logical column LIST (statsCols / bloomCols / zorder
    * args) to physical names. */
  private def physCols(s: Option[SchemaDdl],
                       cols: Seq[String]): Seq[String] =
    s match {
      case None => cols
      case Some(st) => cols.map(c => st.physicalName(c).getOrElse(c))
    }

  /** Scan root-relative data `files` in PHYSICAL space under the
    * read discipline `ddl` demands: explicit physical read schema
    * when a state applies (absent columns null-fill; dropped columns
    * are simply not requested), the plain footer-driven read —
    * byte-identical to the legacy path — otherwise. */
  private def dataScan(spark: SparkSession, rootPath: Path,
                       files: Seq[String], ddl: Option[SchemaDdl])
      : DataFrame = {
    val paths = files.map(resolve(rootPath, _).toString)
    // manifest-pinned file set: FastScan skips the per-path
    // glob/exists + listing work of the generic reader (same
    // HadoopFsRelation/ParquetFileFormat scan underneath)
    FastScan.parquetPaths(spark, fsRoot(rootPath.toString)._1, rootPath,
      paths, ddl.map(_.physicalReadSchema))
  }

  /** Attribute names a SQL predicate references (constraint guards:
    * renaming or dropping a column a CHECK constraint mentions would
    * poison every later write). */
  private def referencedColumns(spark: SparkSession,
                                predicate: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(predicate).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }

  /** The current LOGICAL schema a DDL op starts from: the live state,
    * else a baseline derived from the data (merged footers — DDL is
    * rare, the one-time sweep is the price of adopting mapping on an
    * evolved table), else the declared schema of record. */
  private def ddlBaseline(spark: SparkSession, s: Snapshot)
      : org.apache.spark.sql.types.StructType =
    s.writeDdl.map(_.schema).getOrElse {
      if (s.dataFiles.nonEmpty)
        spark.read.option("mergeSchema", "true")
          .parquet(s.dataFiles.map(s.path(_).toString): _*).schema
      else tableSchema(s.root).getOrElse(throw new IllegalStateException(
        s"${s.root} holds no data and no schema of record - nothing to " +
          "ALTER"))
    }

  private def requireDdlColumnName(n: String): Unit =
    require(n.nonEmpty && !n.contains(',') && !n.contains('=') &&
      !n.contains('/') && !n.startsWith("__"),
      s"column name '$n' cannot be used in schema DDL (reserved " +
        "prefix or path/list metacharacters)")

  /** Guards shared by rename/drop: partition columns live in paths
    * and constraint predicates are stored text — both would go stale. */
  private def requireDdlSafe(spark: SparkSession, s: Snapshot,
                             col: String, op: String): Unit = {
    require(!s.layout.contains(col),
      s"cannot $op partition column $col of ${s.root}: its values are " +
        "encoded in the table's directory layout - rewrite through " +
        "commitOverwrite with a new partitionBy instead")
    s.constraints.foreach { case (name, pred) =>
      require(!referencedColumns(spark, pred).contains(col),
        s"cannot $op column $col of ${s.root}: CHECK constraint $name " +
          s"references it ($pred) - drop the constraint first")
    }
  }

  /** Fresh physical name for a (re-)added column: the logical name
    * itself when nothing ever used it, else a suffixed spelling that
    * collides with no live physical, no dropped physical, and no
    * live logical name (one namespace keeps probe translation
    * unambiguous). */
  private def freshPhysical(logical: String, s: SchemaDdl): String = {
    val taken = s.mapping.flatMap(p => Seq(p._1, p._2)).toSet ++
      s.dropped.toSet
    if (!taken(logical)) logical
    else {
      var i = 1
      var cand = s"${logical}_$i"
      while (taken(cand)) { i += 1; cand = s"${logical}_$i" }
      cand
    }
  }

  private def withPhysical(f: org.apache.spark.sql.types.StructField,
                           phys: String)
      : org.apache.spark.sql.types.StructField =
    if (phys == f.name)
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(PhysicalNameKey).build())
    else
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString(PhysicalNameKey, phys).build())

  /** The key→value form of a schema-DDL state, applying from the
    * version after parent `s`. */
  private def ddlStateKv(next: SchemaDdl, s: Snapshot)
      : Seq[(String, String)] =
    Seq("schema" -> next.schema.json,
      "asOfManifest" -> (s.version + 1L).toString,
      "dropped" -> next.dropped.mkString(","))

  /** Publish a schema-DDL state via the same CAS the constraints use
    * (concurrent ALTERs compose or fail loudly inside `transform`),
    * then stamp an EMPTY commit on top of parent `s` so the change is
    * visible in DESCRIBE HISTORY, paces streams, and gives time travel
    * a crisp boundary. `transform` maps the FRESHLY-READ state (None =
    * first DDL) to the new one. */
  private def publishSchemaDdl(spark: SparkSession, s: Snapshot,
      op: String,
      transform: SchemaDdl => SchemaDdl): Long = {
    publishKv(s.root, SchemaDdlPrefix, schemaDdlStateAt, kv => {
      val next = transform(parseSchemaDdl(kv).getOrElse(
        SchemaDdl(ddlBaseline(spark, s), 0L, Nil)))
      require(next.schema.fields.nonEmpty,
        s"schema DDL would leave ${s.root} with zero columns")
      ddlStateKv(next, s)
    })
    // files unchanged: sidecar entries carry by reference (O(1) jobs)
    // — without them the DDL version would break the stats/bloom
    // lineage and every later probe would admit everything
    publish(spark, s, Nil, op)
  }

  /** ALTER TABLE ADD COLUMNS: metadata-only — no file rewrites, old
    * rows read the new columns as null. Returns the new table
    * version. */
  def addColumns(spark: SparkSession, root: String,
                 cols: org.apache.spark.sql.types.StructType): Long = {
    require(cols.fields.nonEmpty, "ADD COLUMNS needs at least one")
    cols.fieldNames.foreach(requireDdlColumnName)
    publishSchemaDdl(spark, latest(root),
      s"add-columns ${cols.fieldNames.mkString(",")}", prev => {
        val fresh = cols.fields.foldLeft(prev) { (s, f) =>
          require(!s.schema.fieldNames.contains(f.name),
            s"column ${f.name} already exists in $root")
          val phys = freshPhysical(f.name, s)
          s.copy(schema = org.apache.spark.sql.types.StructType(
            s.schema.fields :+ withPhysical(
              f.copy(nullable = true), phys)))
        }
        fresh
      })
  }

  /** ALTER TABLE RENAME COLUMN: metadata-only — files keep the old
    * (physical) name; reads, writes, predicates, stats and blooms all
    * speak the new logical name from this version on. */
  def renameColumn(spark: SparkSession, root: String,
                   from: String, to: String): Long = {
    requireDdlColumnName(to)
    val s = latest(root)
    requireDdlSafe(spark, s, from, "rename")
    publishSchemaDdl(spark, s, s"rename-column $from->$to", prev => {
      val i = prev.schema.fieldNames.indexOf(from)
      require(i >= 0, s"no column $from in $root")
      require(!prev.schema.fieldNames.contains(to),
        s"column $to already exists in $root")
      // one namespace: the new logical spelling must not shadow some
      // OTHER field's physical name, or probe translation turns
      // ambiguous (prefer refusing a rare rename over a wrong prune)
      prev.schema.fields.zipWithIndex.foreach { case (f, j) =>
        require(j == i || prev.physicalOf(f) != to,
          s"cannot rename $from to $to: another column's data is " +
            s"physically stored under '$to'")
      }
      val f = prev.schema.fields(i)
      val phys = prev.physicalOf(f)
      val renamed = withPhysical(f.copy(name = to), phys)
      prev.copy(schema = org.apache.spark.sql.types.StructType(
        prev.schema.fields.updated(i, renamed)))
    })
  }

  /** ALTER TABLE DROP COLUMN: metadata-only — the bytes stay in the
    * files (vacuum-of-history economics, exactly Delta's drop) but no
    * read, write or probe sees the column again; re-adding the same
    * name later maps to a FRESH physical name, so the old values can
    * never resurrect. */
  def dropColumn(spark: SparkSession, root: String,
                 name: String): Long = {
    val s = latest(root)
    requireDdlSafe(spark, s, name, "drop")
    publishSchemaDdl(spark, s, s"drop-column $name", prev => {
      val i = prev.schema.fieldNames.indexOf(name)
      require(i >= 0, s"no column $name in $root")
      require(prev.schema.fields.length > 1,
        s"cannot drop the only column of $root")
      val phys = prev.physicalOf(prev.schema.fields(i))
      prev.copy(
        schema = org.apache.spark.sql.types.StructType(
          prev.schema.fields.patch(i, Nil, 1)),
        dropped = (prev.dropped :+ phys).distinct)
    })
  }

  /** Fail LOUDLY if any staged row provably violates a CHECK
    * constraint — one aggregate pass counting violations per
    * constraint, so the error names the rule and the row count
    * instead of leaving a poisoned table behind. Runs over the STAGED
    * BYTES, never the input frame: re-evaluating the frame would
    * compute it twice AND — for a non-deterministic input (rand(),
    * current_timestamp, an unstable shuffle re-execution) — validate
    * DIFFERENT rows than the ones being committed, letting violating
    * rows slip past the CHECK (Delta validates at write time for the
    * same reason). */
  private def enforceConstraints(df: DataFrame,
                                 cons: Seq[(String, String)]): Unit = {
    if (cons.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    val aggs = cons.map { case (n, e) =>
      sum(when(not(coalesce(expr(e), lit(true))), 1L).otherwise(0L))
        .as(n) }
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    cons.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(bad == 0L,
        s"CHECK constraint $n violated by $bad staged rows: ($e) - " +
          "nothing was committed")
    }
  }

  /** A scan of just-staged manifest entries (root-relative), or None
    * when the batch staged no files. */
  private def stagedScan(spark: SparkSession, rootPath: Path,
                         staged: Seq[String]): Option[DataFrame] =
    if (staged.isEmpty) None
    else Some(dataScan(spark, rootPath, staged, None))

  /** Parent `s` as a write of `dfSchema` stages under it: `s` itself,
    * or — when the write introduces columns a live schema-DDL state
    * lacks (schema evolution under mapping) — `s` with the state that
    * extends it, published here: each new logical name gets a
    * collision-free physical name, applying from the version this
    * write is about to commit. Tables with no DDL state take the
    * legacy path, untranslated. */
  private def forWrite(s: Snapshot,
      dfSchema: org.apache.spark.sql.types.StructType): Snapshot = {
    val newCols = s.writeDdl.toSeq.flatMap(st => dfSchema.fields
      .filterNot(f => st.schema.fieldNames.contains(f.name)))
    if (newCols.isEmpty) return s
    newCols.foreach(f => requireDdlColumnName(f.name))
    val n = publishKv(s.root, SchemaDdlPrefix, schemaDdlStateAt, kv => {
      val prev = parseSchemaDdl(kv).getOrElse(s.writeDdl.get)
      ddlStateKv(newCols.foldLeft(prev) { (st, f) =>
        if (st.schema.fieldNames.contains(f.name)) st
        else st.copy(schema = org.apache.spark.sql.types.StructType(
          st.schema.fields :+ withPhysical(f.copy(nullable = true),
            freshPhysical(f.name, st))))
      }, s)
    })
    s.copy(ddlVersion = n)
  }

  /** Stage `df`'s parquet files into a fresh `data/<uuid>/` directory
    * under the `parent` snapshot's newest schema-DDL state
    * ([[forWrite]]) and CHECK constraints; returns their root-relative
    * paths. Nothing is visible until [[publish]] publishes a manifest
    * listing them. A batch that comes out as one 0-row file stages no
    * file unless `keepEmptyBatch` (an append or overwrite, which must
    * list a file); a rewrite may publish none. */
  private[store] def stage(df: DataFrame, parent: Snapshot,
                           partitionBy: Seq[String] = Nil,
                           maxRecordsPerFile: Long = 0L,
                           keepEmptyBatch: Boolean = false)
      : Seq[String] = {
    // schema-DDL tables stage in PHYSICAL column space (files must
    // agree with every file written before the renames); partition
    // columns are refused from rename/drop, so `partitionBy` spells
    // the same in both spaces
    val ddl = forWrite(parent, df.schema).writeDdl
    val physDf = ddl.map(toPhysicalFrame(df, _)).getOrElse(df)
    val (fs, rootPath) = (parent.fs, parent.rootPath)
    val staged = stageUnchecked(physDf, fs, rootPath, partitionBy,
      maxRecordsPerFile, keepEmptyBatch)
    // validate constraints on the bytes as written; a violating batch
    // deletes its own staging dir so nothing leaks (the table never
    // referenced it). Constraint predicates speak LOGICAL names.
    // Unconstrained tables (the overwhelmingly common case) skip even
    // BUILDING the staged relation: spark.read.parquet here costs a
    // footer read + file-index listing per commit for an aggregate
    // that would validate zero rules.
    val cons = parent.constraints
    if (cons.nonEmpty) {
      stagedScan(df.sparkSession, rootPath, staged).foreach { scan =>
        val logicalScan = ddl.map(toLogicalFrame(scan, _)).getOrElse(scan)
        try enforceConstraints(logicalScan, cons)
        catch {
          case e: Throwable =>
            // every staged entry is data/<uuid>/... — drop the commit dir
            staged.map(_.split('/').take(2).mkString("/")).distinct
              .foreach(d => try fs.delete(resolve(rootPath, d), true)
                catch { case scala.util.control.NonFatal(_) => () })
            throw e
        }
      }
    }
    // schema of record: what keeps a zero-data-file version readable
    // as a typed empty frame. Written AFTER constraint validation so a
    // refused batch cannot leave a schema no committed version carries
    // (still advisory: file footers stay authoritative when files
    // exist — see GraftFileIndex.schemaOf). PHYSICAL space, like the
    // footers it stands in for.
    writeTableSchema(fs, rootPath, physDf.schema)
    staged
  }

  private def stageUnchecked(df: DataFrame, fs: FileSystem,
                             rootPath: Path, partitionBy: Seq[String],
                             maxRecordsPerFile: Long,
                             keepEmptyBatch: Boolean)
      : Seq[String] = {
    fs.mkdirs(rootPath)
    // target-file-size ergonomics: Spark's own per-write splitter —
    // the writer keeps files bounded so OPTIMIZE is maintenance, not
    // repair (0 = unbounded, the default)
    def writer(d: DataFrame) =
      if (maxRecordsPerFile > 0L)
        d.write.option("maxRecordsPerFile", maxRecordsPerFile)
      else d.write
    val uuid = java.util.UUID.randomUUID().toString
    val dir = new Path(new Path(rootPath, "data"), uuid)
    if (partitionBy.isEmpty) {
      writer(df).parquet(dir.toString)
      val written = fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => s"data/$uuid/${st.getPath.getName}" -> st.getLen)
        .sortBy(_._1)
      // Spark writes a 0-row part file for an empty input partition 0
      // (and for no other empty partition); it would get no stats
      // entry, so every bound would admit it and every scan open its
      // footer. Drop it, unless it is the whole batch and
      // `keepEmptyBatch`: an append's version must list a file. A 0-row
      // file is footer-only, the smallest of its write, so at most one
      // footer is read (its row count, no job).
      val empty = written.collectFirst {
        case (f, len) if f.startsWith(s"data/$uuid/part-00000-") &&
          (written.size > 1 || !keepEmptyBatch) &&
          len == written.map(_._2).min &&
          footerRowCount(fs, rootPath, Seq(f)) == 0L => f
      }
      empty.foreach(f => fs.delete(resolve(rootPath, f), false))
      val kept = written.map(_._1).filterNot(empty.contains)
      if (kept.isEmpty) fs.delete(dir, true)
      kept
    } else {
      // Hive-style partition layout UNDER the commit directory, with
      // the partition values duplicated into type-tagged SHADOW
      // columns (`__pi_c=v` integral / `__ps_c=v` string) so the data
      // files keep every real column: explicit-file reads (the only
      // reads this store plans) never re-infer directory columns, so
      // every existing consumer — merge, compact, DV, change feed —
      // sees the same schema it always did. The per-row duplication
      // is a dictionary/RLE run in parquet, ~free; what it buys at
      // 100 TB is [[partitionAdmits]]: file skipping from the PATH
      // alone, before any stats/bloom sidecar byte is read.
      import org.apache.spark.sql.functions.col
      val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val shadows = partitionBy.map { c =>
        val dt = fields.getOrElse(c, throw new IllegalArgumentException(
          s"partitionBy column $c is not in the frame's schema"))
        val tag =
          if (integralType(dt)) "__pi_"
          else if (stringType(dt)) "__ps_"
          else throw new IllegalArgumentException(
            s"partitionBy column $c must be integral or string for " +
              s"path-level pruning, got $dt")
        require(!c.contains("=") && !c.contains("/"),
          s"partition column name $c cannot encode into a path")
        c -> (tag + c)
      }
      val dup = shadows.foldLeft(df) { case (d, (c, s)) =>
        d.withColumn(s, col(c)) }
      writer(dup).partitionBy(shadows.map(_._2): _*)
        .parquet(dir.toString)
      val rootUri = rootPath.toString
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val p = it.next().getPath.toString
        if (p.endsWith(".parquet"))
          out += p.stripPrefix(rootUri).stripPrefix("/")
      }
      // an empty frame stages no files — the same tolerance as the
      // flat branch (a rewrite whose touched files lose every row
      // legitimately stages nothing; callers compose untouched files)
      out.sorted.toSeq
    }
  }

  /** Partition key/values encoded in a manifest entry's path by a
    * partitioned [[stage]]: (column, 'i'|'s' kind, raw value). */
  private def partitionKv(f: String): Seq[(String, Char, String)] =
    f.split('/').toSeq.flatMap { seg =>
      val tagged = seg.startsWith("__pi_") || seg.startsWith("__ps_")
      val eq = seg.indexOf('=')
      if (!tagged || eq < 5) None
      else Some((seg.substring(5, eq),
        if (seg.charAt(3) == 'i') 'i' else 's',
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.substring(eq + 1))))
    }

  /** Can a file admit rows under the probes, judged from its PATH's
    * partition values alone — zero sidecar bytes read? Every row of
    * the file shares the path's partition values, so a probed
    * partition column admits iff ITS value passes: integral values
    * compare raw (stats space), string values through the same
    * prefix-key / full-value-hash spaces the sidecars use. A null
    * partition (`__HIVE_DEFAULT_PARTITION__`) can satisfy no
    * equality/range probe. Unprobed or unparseable values admit —
    * like every skipping layer here, this is an IO optimization,
    * never a correctness gate. */
  private def partitionAdmits(f: String,
      bounds: Map[String, (Long, Long)],
      equalitySets: Map[String, Seq[Long]],
      hashEqualitySets: Map[String, Seq[Long]]): Boolean =
    partitionKv(f).forall { case (c, kind, raw) =>
      val probed = bounds.contains(c) ||
        equalitySets.get(c).exists(_.nonEmpty) ||
        hashEqualitySets.get(c).exists(_.nonEmpty)
      if (!probed) true
      else if (raw ==
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME) false
      else kind match {
        case 'i' => raw.toLongOption.forall { v =>
          bounds.get(c).forall { case (lo, hi) => v >= lo && v <= hi } &&
            equalitySets.get(c).filter(_.nonEmpty).forall(_.contains(v))
        }
        case _ =>
          val pk = prefixKeyOf(raw)
          bounds.get(c).forall { case (lo, hi) => pk >= lo && pk <= hi } &&
            hashEqualitySets.get(c).filter(_.nonEmpty)
              .forall(_.contains(hashKeyOf(raw)))
      }
    }

  /** The partition layout `files` share, or Nil: the partition column
    * sequence when EVERY file's path carries the identical one. The
    * auto-preserve probe every copy-on-write rewrite (merge, delete,
    * purge, replaceWhere survivors, compaction) runs before staging,
    * so rewriting rows never silently flattens a partitioned table —
    * at 100 TB the layout IS the first-order file skip, and a
    * compaction that erased it would quietly turn every later
    * partition-probe into a full-manifest admit. Mixed or absent
    * layouts detect as Nil (plain staging, exactly the old
    * behavior). */
  private[store] def detectPartitionBy(files: Seq[String]): Seq[String] = {
    if (files.isEmpty) return Nil
    val sets = files.map(f => partitionKv(f).map(_._1))
    if (sets.head.nonEmpty && sets.forall(_ == sets.head)) sets.head
    else Nil
  }

  /** Latest transaction batch id committed at `root` by `appId`, or
    * None. Scans manifest headers newest-first — driver-side and
    * manifest-sized like every metadata op here. */
  def latestTxnBatch(root: String, appId: String): Option[Long] =
    snapshotOf(root, 0L).flatMap(txnBatch(_, appId))

  /** [[latestTxnBatch]] at or below snapshot `s`'s version: its own
    * header first, then older headers newest-first. */
  private def txnBatch(s: Snapshot, appId: String): Option[Long] =
    (s.version to 1L by -1L).iterator.flatMap { v =>
      // vacuum removes retired manifests below keepFrom: a version gap
      // means "no surviving stamp there", not an error — skip it so a
      // txn lookup over vacuumed history terminates with None instead
      // of crashing on the first reclaimed manifest
      val header =
        if (v == s.version) s.header else manifestHeader(s.fs, s.rootPath, v)
      headerField(header, "txn").flatMap { t =>
        val i = t.lastIndexOf(':')
        if (i > 0 && t.substring(0, i) == appId) t.substring(i + 1).toLongOption
        else None
      }
    }.nextOption()

  /** How a commit's manifest composes with its parent snapshot. */
  private[store] sealed trait Compose
  /** The parent's entries plus the commit's. A lost publish race
    * recomposes on top of the racer (blind appends never conflict);
    * a `txn` stamp makes the commit exactly-once per (appId, batch). */
  private[store] case object Append extends Compose
  /** Exactly the commit's entries, republished on top of a racer: a
    * blind overwrite. A `txn` stamp is recorded, never deduplicated. */
  private[store] case object Replace extends Compose
  /** Exactly the commit's entries, planned against this parent: a
    * racer raises ConcurrentModificationException (Delta/Iceberg raise
    * the same for conflicting rewrites), since retrying on top of it
    * would silently drop its rows. May list no file at all — a delete
    * that removes every row; the schema of record keeps that version
    * readable. */
  private[store] case object Rewrite extends Compose

  /** Has `txn`'s (appId, batch) already landed at or below `s`? */
  private def txnDone(s: Snapshot, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (appId, batch) => txnBatch(s, appId).exists(_ >= batch) }

  /** The one publish step every commit ends in: compose the manifest
    * of `added` (root-relative or absolute entries) on top of `parent`
    * as `compose` says, publish it as the next version through the
    * create-exclusive CAS, then maintain the stats/bloom sidecars of
    * the new version from the entries just composed (`statsCols` /
    * `bloomCols` start or switch a lineage, empty continues the
    * parent's). A lost CAS resolves a fresh parent — the commit's only
    * second listing — and retries up to 20 times (a [[Rewrite]]
    * raises instead). An [[Append]]'s txn dedupe re-runs on every
    * fresh parent (the caller checked its own): a racing twin (a
    * restarted sink re-delivering the batch) may have committed it
    * meanwhile. `beforePublish` is a test seam fired between
    * composition and publication, the window a racing writer exploits.
    * Returns the published version, or the fresh parent's when the txn
    * had landed there. */
  private[store] def publish(spark: => SparkSession, parent: Snapshot,
      added: Seq[String], op: String, compose: Compose = Append,
      txn: Option[(String, Long)] = None,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = 65536,
      beforePublish: Long => Unit = _ => ()): Long = {
    val writer = java.util.UUID.randomUUID().toString
    var p = parent
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      // CDC sidecars belong to exactly ONE version — the commit that
      // wrote them (the feed derives a version's changes from its
      // NEWLY-ADDED cdc entries). Drop any parent-carried cdc entry
      // from the composed list so manifests never accumulate stale
      // change files; freshly staged cdc entries (absent from the
      // parent) ride through. Retired cdc files become vacuumable the
      // moment their version does.
      val parentCdc = p.entries.filter(isCdcEntry).toSet
      val composed = ((if (compose == Append) p.entries else Nil) ++ added)
        .filterNot(e => isCdcEntry(e) && parentCdc(e))
      val v = p.version + 1
      val txnField = txn
        .map { case (a, b) => s""" "txn": "$a:$b",""" }.getOrElse("") +
        // audit stamp, read back by [[history]] (DESCRIBE HISTORY):
        // never load-bearing for reads, absent in pre-r12 manifests
        (if (op.nonEmpty) s""" "op": "$op",""" else "")
      val body = (s"""{"version": $v, "writer": "$writer",$txnField """ +
        s""""files": [""" ::
        composed.map("\"" + _ + "\"" + ",").toList).mkString("\n")
          .stripSuffix(",") + "\n]}"
      val tmp = new Path(p.rootPath, s".manifest-v$v-$writer.tmp")
      writeFile(p.fs, tmp, body)
      beforePublish(v)
      if (publishExclusive(p.fs, tmp, manifestPath(p.rootPath, v), writer,
          p.rootPath, v)) {
        maintainSidecars(spark, p, v, splitEntries(composed)._1,
          statsCols, bloomCols, bloomBits)
        return v
      }
      if (compose == Rewrite)
        throw new java.util.ConcurrentModificationException(
          s"rewrite commit to ${p.root} was composed against version " +
            s"${p.version} but a concurrent commit published version $v " +
            "first - re-run the merge/delete against the new snapshot")
      // lost the race: another writer published this version first —
      // recompose on top of THEIR manifest and try the next number
      p = latest(p.root)
      if (compose == Append && txnDone(p, txn)) return p.version
    }
    throw new IllegalStateException(
      s"gave up committing to ${parent.root} after 20 version-collision " +
        "retries")
  }

  /** Refuse a data write that staged no parquet file: a blind append
    * or overwrite of nothing is a caller bug, not a commit. */
  private def requireFiles(root: String, added: Seq[String]): Unit =
    require(added.nonEmpty,
      s"refusing to commit an empty batch to $root: the staged write " +
        "produced no parquet files and a version listing no files is " +
        "unreadable (filter empty micro-batches out before committing)")

  /** Adopt an EXISTING plain-parquet directory as a graft table
    * (Delta's CONVERT TO DELTA role): version 1's manifest lists the
    * directory's parquet files BY REFERENCE — zero bytes rewritten, so
    * converting a 100 TB directory is a metadata operation. After
    * conversion every feature applies: DML, time travel, constraints,
    * OPTIMIZE, [[indexSkipping]] backfills the stats/bloom sidecars.
    *
    * Hive-partitioned trees (`key=value` path segments) are REFUSED:
    * their partition values exist only in the paths, and this store's
    * explicit-file scans read values from file bytes — converting one
    * would silently drop those columns. Re-land such data through a
    * partitioned [[commitAppend]] instead. */
  def convertParquet(spark: SparkSession, root: String): Long = {
    val s = latest(root)
    val (fs, rootPath) = (s.fs, s.rootPath)
    require(s.version == 0L,
      s"$root is already a graft table (convert adopts plain parquet)")
    require(fs.exists(rootPath), s"$root does not exist")
    val rootUri = fs.makeQualified(rootPath).toString
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(rootPath, true)
    while (it.hasNext) {
      val p = fs.makeQualified(it.next().getPath).toString
      if (p.endsWith(".parquet")) {
        val rel = p.stripPrefix(rootUri).stripPrefix("/")
        require(!rel.contains("="),
          s"$root looks hive-partitioned ($rel): partition values " +
            "live only in paths there - re-land the data through a " +
            "partitioned commitAppend instead of converting")
        out += rel
      }
    }
    require(out.nonEmpty, s"no parquet files under $root to convert")
    val entries = out.sorted.toSeq
    // schema of record from the adopted files (footer-read, advisory)
    try writeTableSchema(fs, rootPath,
      FastScan.footerSchema(spark, fs, resolve(rootPath, entries.head)))
    catch { case scala.util.control.NonFatal(_) => () }
    publish(spark, s, entries, "convert", Rewrite)
  }

  /** The one body of append, txn-append and overwrite: resolve the
    * parent once, stage `df` under it and publish. An append that
    * names no layout lands under the table's own: partition columns
    * behave as table metadata (Delta's semantics), so a plain append
    * can never silently flatten a partitioned table and cost every
    * later prober its path-level skip. */
  private def write(df: DataFrame, root: String, compose: Compose,
      op: String, partitionBy: Seq[String], maxRecordsPerFile: Long,
      txn: Option[(String, Long)], statsCols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int): Long = {
    val parent = latest(root)
    // known duplicate: skip even the data write
    if (compose == Append && txnDone(parent, txn)) return parent.version
    val s = forWrite(parent, df.schema)
    val layout =
      if (partitionBy.isEmpty && compose == Append) s.layout else partitionBy
    val staged = stage(df, s, layout, maxRecordsPerFile,
      keepEmptyBatch = true)
    requireFiles(root, staged)
    publish(df.sparkSession, s, staged, op, compose, txn, statsCols,
      bloomCols, bloomBits)
  }

  /** Append-commit `df` as the next version; returns the new version
    * number. The parquet write lands in an isolated `data/<uuid>/`
    * directory first; the table only advances when the manifest
    * publishes. Safe under concurrent writers (optimistic retry). */
  def commitAppend(df: DataFrame, root: String,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil,
                   bloomBits: Int = 65536,
                   partitionBy: Seq[String] = Nil,
                   maxRecordsPerFile: Long = 0L): Long =
    write(df, root, Append, "append", partitionBy, maxRecordsPerFile,
      None, statsCols, bloomCols, bloomBits)

  /** Idempotent append for EXACTLY-ONCE streaming sinks: the manifest
    * records the (appId, batchId) transaction, and a commit whose
    * batch id is ≤ the appId's latest recorded one is a no-op — so a
    * `foreachBatch` sink that crashed after committing but before the
    * checkpoint advanced can be re-delivered the same micro-batch and
    * the store still contains it ONCE. This is the lakehouse txn-action
    * idempotence (Delta's `txn`/`appId` mechanism) that upgrades
    * Structured Streaming's at-least-once `foreachBatch` redelivery to
    * exactly-once table contents; batch ids must be monotone per appId,
    * which Spark's `foreachBatch` guarantees. The duplicate check runs
    * again inside the optimistic-commit retry loop, so two racing
    * re-deliveries of the same batch commit it exactly once too. */
  def commitAppendTxn(df: DataFrame, root: String, appId: String,
                      batchId: Long, statsCols: Seq[String] = Nil,
                      partitionBy: Seq[String] = Nil): Long =
    write(df, root, Append, "txn-append", partitionBy, 0L,
      Some((appId, batchId)), statsCols, Nil, 65536)

  /** Overwrite-commit: the new version's manifest lists ONLY this
    * batch's files — the compaction / full-rewrite commit. Older
    * versions keep reading their pinned files untouched until
    * [[vacuum]] retires them; this is what makes history reclaimable
    * in an otherwise append-only store. `txn` optionally stamps the
    * manifest with a caller fingerprint (source mtime / input version)
    * for [[latestTxnBatch]] staleness checks — stamp-only, no
    * exactly-once dedupe (an equal fingerprint still commits). */
  def commitOverwrite(df: DataFrame, root: String,
                      txn: Option[(String, Long)] = None,
                      statsCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil,
                      bloomBits: Int = 65536,
                      partitionBy: Seq[String] = Nil,
                      maxRecordsPerFile: Long = 0L): Long =
    write(df, root, Replace, "overwrite", partitionBy, maxRecordsPerFile,
      txn, statsCols, bloomCols, bloomBits)

  /** The parent every rewrite commit of a committed table plans
    * against and publishes on as a [[Rewrite]]: the [[latest]]
    * snapshot (one root listing, one manifest open). Its entries,
    * tombstones, properties and schema-DDL state are everything the
    * commit plans from. Planning reads the DDL state in force AT the
    * parent, the rule every read uses; staging writes under the newest
    * published one ([[stage]]). The two differ only while a DDL op's
    * boundary manifest has not landed yet, and a rewrite racing that
    * boundary commit loses its publish race. */
  private def rewriteParent(root: String): Snapshot = {
    val s = latest(root)
    require(s.version > 0L, s"no committed version at $root")
    s
  }

  /** A physical-space frame of `s`'s data files projected to `s`'s
    * logical schema, carrying `extra` internal columns through. */
  private def toLogical(s: Snapshot, df: DataFrame,
                        extra: Seq[String] = Nil): DataFrame =
    s.ddl.fold(df)(toLogicalFrame(df, _, extra))

  /** Scan of `s`'s data `files` in LOGICAL space — the frame every
    * rewrite commit matches, rewrites and stages from. */
  private def logical(spark: SparkSession, s: Snapshot,
                      files: Seq[String]): DataFrame =
    toLogical(s, dataScan(spark, s.rootPath, files, s.ddl))

  /** Which of `s`'s data `files` contain at least one row `matches`
    * selects, discovered by scanning them WITH file provenance
    * (`_metadata.file_path`) — the copy-on-write planning step shared
    * by merge and delete. The scan is column-pruned to whatever
    * `matches` references (keys or predicate columns), and parquet
    * stats/dictionary pruning skip row groups that cannot match; only
    * the distinct FILE list returns to the driver, so driver memory is
    * manifest-sized regardless of match count. Returns (touched,
    * untouched) as root-relative manifest entries. */
  private def touchedFiles(spark: SparkSession, s: Snapshot,
                           files: Seq[String],
                           matches: DataFrame => DataFrame)
      : (Seq[String], Seq[String]) = {
    // keyed scheme-less so `_metadata.file_path`'s URI spelling
    // (file:///x vs file:/x) can never miss a manifest entry
    val byPath = files.map { f =>
      s.fs.makeQualified(s.path(f)).toUri.getPath -> f
    }.toMap
    import org.apache.spark.sql.functions.col
    // capture the metadata column BEFORE any logical projection (it
    // only resolves on the scan relation itself), then let `matches`
    // evaluate user predicates over logical names
    val keyed = dataScan(spark, s.rootPath, files, s.ddl)
      .withColumn("__fp", col("_metadata.file_path"))
    val touched = matches(toLogical(s, keyed, extra = Seq("__fp")))
      .select("__fp").distinct().collect()
      .map(r => byPath(new Path(r.getString(0)).toUri.getPath))
      .toSeq.sorted
    val t = touched.toSet
    (touched, files.filterNot(t))
  }

  /** Split `s`'s data files into (candidates, provably unmatched) by
    * the literal conjuncts of `predicate` ([[predicateKeyStats]] over
    * a logical probe of the first file — planning only, no job): files
    * whose stats/bloom sidecars or partition path fail a necessary
    * comparison never enter the match scan. The predicate speaks
    * LOGICAL names; [[admit]] translates the probe keys to the
    * sidecars' physical space. */
  private def prunePredicate(spark: SparkSession, s: Snapshot,
                             predicate: org.apache.spark.sql.Column)
      : (Seq[String], Seq[String]) = {
    if (s.dataFiles.isEmpty) return (Nil, Nil)
    val (bounds, eqs, hashEqs) = predicateKeyStats(
      logical(spark, s, s.dataFiles.take(1)), predicate)
    val candidates =
      if (bounds.isEmpty && eqs.isEmpty && hashEqs.isEmpty) s.dataFiles
      else admit(s, bounds, eqs, hashEqs)
    val c = candidates.toSet
    (candidates, s.dataFiles.filterNot(c))
  }

  /** How many distinct per-column key values a merge will collect for
    * bloom pre-pruning before giving up on that column (bounds pruning
    * still applies). Driver cost is ≤ this many longs per key column —
    * k-bounded by construction. */
  private val MergeBloomProbeMax = 1024

  /** Pre-prune a rewrite's match-scan list with the sidecars the table
    * already maintains: split the data files of parent snapshot `s`
    * into (candidates, provably unmatched) using per-key min/max
    * derived from `updates` plus, for key columns carrying a bloom
    * sidecar with ≤ [[MergeBloomProbeMax]] distinct update values, a
    * per-file bloom probe of those values. A table without blooms pays
    * one driver-sized agg for the bounds; a bloom-indexed one takes the
    * bounds and the probe values from one bounded distinct-collect of
    * the update key tuples. Without this, the copy-on-write
    * planning scan reads EVERY parent file's key columns — the probe is
    * a semi join with no literal predicate, so neither file skipping
    * nor parquet row-group pruning applies on its own; with it, a merge
    * touching 0.1% of a z-ordered table's files also SCANS ~0.1%.
    * Files the sidecars can't vouch for (missing entries, non-integral
    * keys) stay candidates — pruning is an optimization, never a
    * correctness gate. */
  private[graft] def pruneMergeScan(updates: DataFrame, s: Snapshot,
                                    keys: Seq[String])
      : (Seq[String], Seq[String]) = {
    val parentFiles = s.dataFiles
    // update keys are logical; the sidecars (and partition paths)
    // key physical — translate the probe-map keys once
    def physS(m: Map[String, Seq[Long]]) = physProbeKeys(s.ddl, m)
    def physOf(k: String): String =
      s.ddl.flatMap(_.physicalName(k)).getOrElse(k)
    // pruning can't pay for its own planning jobs on a handful of
    // files — scan them all (at 100 TB file counts this branch never
    // takes; at spec/test scale it keeps merge latency flat)
    if (parentFiles.size < 4) return (parentFiles, Nil)
    // Sidecar stats/blooms are LONG vectors keyed per column TYPE:
    // integral columns long-cast (lossless, order-preserving), string
    // columns go through their prefix/hash skip keys — the IDENTICAL
    // expressions the sidecar writers run, so a probe can never prune
    // a parent file that holds a matching row (which would make the
    // merge keep the old row and re-insert the update: silent
    // duplicate keys). Any other key type (decimal, …) contributes no
    // pruning — merge keys are conjunctive equalities, so pruning on
    // the prunable subset alone is safe (mirrors predicateKeyStats'
    // guard).
    import org.apache.spark.sql.functions.{col, max, min, when}
    val keyTypes = keys.flatMap(k => updates.schema.fields
      .find(_.name == k).map(f => k -> f.dataType)).toMap
    val intKeys = keys.filter(k => keyTypes.get(k).exists(integralType))
    val strKeys = keys.filter(k => keyTypes.get(k).exists(stringType))
    val prunable = intKeys ++ strKeys
    if (prunable.isEmpty) return (parentFiles, Nil)
    def statsKey(k: String): org.apache.spark.sql.Column =
      if (intKeys.contains(k)) col(k).cast("long")
      else prefixKeyCol(col(k))
    // string keys probe the bloom with their full-value hash — the
    // discrimination an 8-byte prefix can't give a URL-keyed table
    def bloomKey(k: String): org.apache.spark.sql.Column =
      if (intKeys.contains(k)) col(k).cast("long") else hashKeyCol(col(k))
    // the key columns the version's bloom sidecar covers; the probe
    // only pays on a table of at least 8 files, and a snapshot whose
    // listing saw no bloom-v<version> reads nothing
    val bloomKeys =
      if (parentFiles.size < 8 || s.bloomVersion != s.version) Nil
      else readBloomMeta(s.fs, s.rootPath, s.version).map(m =>
        prunable.filter(k => m.cols.contains(physOf(k)))).getOrElse(Nil)
    val bloomStr = bloomKeys.filter(strKeys.contains)
    // A bloom probe needs every distinct update value of its column, so
    // a bloom-indexed merge takes the bounds AND those values from ONE
    // bounded distinct-collect of the update key tuples: each key's
    // stats key, then each bloomed string key's hash. Past
    // MergeBloomProbeMax tuples (and on a table without blooms) the
    // bounds come from ONE driver-sized agg instead.
    val tuples = if (bloomKeys.isEmpty) None else {
      val probes = prunable.map(statsKey) ++
        bloomStr.map(k => when(col(k).isNotNull, bloomKey(k)))
      Some(updates.filter(prunable.map(col(_).isNotNull).reduce(_ || _))
        .select(probes.zipWithIndex.map { case (p, i) => p.as(s"__p$i") }: _*)
        .distinct().limit(MergeBloomProbeMax + 1).collect().toSeq)
        .filter(_.size <= MergeBloomProbeMax)
    }
    def values(i: Int): Seq[Long] = tuples.get
      .filterNot(_.isNullAt(i)).map(_.getLong(i)).distinct
    val bounds = if (tuples.isDefined) prunable.indices.flatMap { i =>
      val vs = values(i)
      if (vs.isEmpty) None else Some(prunable(i) -> (vs.min, vs.max))
    }.toMap else {
      val aggs = prunable.flatMap(k =>
        Seq(min(statsKey(k)), max(statsKey(k))))
      val row = updates.agg(aggs.head, aggs.tail: _*).collect().head
      prunable.zipWithIndex.flatMap { case (k, i) =>
        if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) None
        else Some(k -> (row.getLong(2 * i), row.getLong(2 * i + 1)))
      }.toMap
    }
    // stage 1: bounds alone (stats sidecar, no extra jobs)
    val byBounds = admit(s, bounds, Map.empty, Map.empty)
    // stage 2: the per-column bloom probe — only worth its sidecar
    // reads while many candidates remain. Its values come off the
    // tuples; past the cap, one distinct-collect per column, which a
    // single key can skip: its tuples are its distinct values.
    def probe(k: String): Option[Seq[Long]] =
      if (tuples.isDefined) Some(values(
        if (intKeys.contains(k)) prunable.indexOf(k)
        else prunable.size + bloomStr.indexOf(k)))
      else if (prunable.size == 1) None
      else {
        val vals = updates.select(bloomKey(k).as("__probe"))
          .filter(col(k).isNotNull).distinct()
          .limit(MergeBloomProbeMax + 1).collect().map(_.getLong(0)).toSeq
        if (vals.size > MergeBloomProbeMax) None else Some(vals)
      }
    val probed = if (byBounds.size < 8) Nil
      else bloomKeys.flatMap(k => probe(k).map(k -> _))
    val equalitySets = probed.filter(p => intKeys.contains(p._1)).toMap
    val hashEqualitySets = probed.filter(p => strKeys.contains(p._1)).toMap
    val candidates =
      if (equalitySets.isEmpty && hashEqualitySets.isEmpty) byBounds
      else admittedFiles(s.fs, s.rootPath, s.version, byBounds, Map.empty,
        physS(equalitySets), physS(hashEqualitySets))
    val c = candidates.toSet
    (candidates, parentFiles.filterNot(c))
  }

  /** Best-effort (bounds, equality-sets, hash-equality-sets) implied
    * by a DELETE predicate: analyze the predicate against `probe` (any
    * schema-bearing sample of the table — planning only, no job runs)
    * and read the resolved filter condition's conjuncts that compare an
    * attribute against an integer OR string literal. Integral
    * comparisons yield stats bounds + bloom equalities in raw value
    * space; string comparisons yield prefix-key bounds (range
    * conjuncts map INCLUSIVELY: `url > L` implies only
    * prefixKey(url) >= prefixKey(L)) + full-value hash equalities for
    * the bloom. Any conjunct this can't read is simply ignored: under
    * AND semantics every recognized comparison is a NECESSARY
    * condition for a row to match, so pruning files that provably fail
    * one is safe no matter what the unread conjuncts do. A top-level
    * OR yields no conjuncts and therefore no pruning. */
  private[store] def predicateKeyStats(probe: DataFrame,
      predCol: org.apache.spark.sql.Column)
      : (Map[String, (Long, Long)], Map[String, Seq[Long]],
         Map[String, Seq[Long]]) = {
    import org.apache.spark.sql.catalyst.expressions._
    val pred: Expression = probe.filter(predCol).queryExecution.analyzed
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(return (Map.empty, Map.empty, Map.empty))
    def integral(dt: org.apache.spark.sql.types.DataType): Boolean =
      integralType(dt)
    def attrOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      // analysis widens the narrow side of a mixed-width comparison;
      // an integral upcast preserves order and value, so the bound
      // still applies to the underlying column (whose sidecar stats
      // are long-cast the same way)
      case Cast(a: AttributeReference, dt, _, _)
          if integral(dt) && integral(a.dataType) =>
        Some(a.name)
      case _ => None
    }
    def litOf(e: Expression): Option[Long] =
      if (!e.foldable) None
      else e.eval(null) match {
        case v: java.lang.Long => Some(v.longValue)
        case v: java.lang.Integer => Some(v.toLong)
        case v: java.lang.Short => Some(v.toLong)
        case v: java.lang.Byte => Some(v.toLong)
        case _ => None
      }
    // string attr + string literal: the prefix/hash skip-key spaces
    def strAttrOf(e: Expression): Option[String] = e match {
      case a: AttributeReference if stringType(a.dataType) => Some(a.name)
      case _ => None
    }
    def strLitOf(e: Expression): Option[String] =
      if (!e.foldable) None
      else e.eval(null) match {
        case s: org.apache.spark.unsafe.types.UTF8String =>
          Some(s.toString)
        case _ => None
      }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    var bounds = Map.empty[String, (Long, Long)]
    var eqs = Map.empty[String, Seq[Long]]
    var heqs = Map.empty[String, Seq[Long]]
    def tighten(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = bounds.getOrElse(c, (Long.MinValue, Long.MaxValue))
      bounds += c -> (math.max(l0, lo), math.min(h0, hi))
    }
    conjuncts(pred).foreach {
      // ---- string conjuncts (before the integral cases: their attr
      // matcher would swallow a string attr with a None literal) ----
      case EqualTo(a, l) if strAttrOf(a).isDefined &&
          strLitOf(l).isDefined =>
        val (c, s) = (strAttrOf(a).get, strLitOf(l).get)
        val pk = prefixKeyOf(s)
        tighten(c, pk, pk); heqs += c -> Seq(hashKeyOf(s))
      case EqualTo(l, a) if strAttrOf(a).isDefined &&
          strLitOf(l).isDefined =>
        val (c, s) = (strAttrOf(a).get, strLitOf(l).get)
        val pk = prefixKeyOf(s)
        tighten(c, pk, pk); heqs += c -> Seq(hashKeyOf(s))
      case In(a, vs) if strAttrOf(a).isDefined && vs.nonEmpty &&
          vs.forall(strLitOf(_).isDefined) =>
        val c = strAttrOf(a).get
        val values = vs.flatMap(strLitOf)
        val pks = values.map(prefixKeyOf)
        tighten(c, pks.min, pks.max)
        heqs += c -> values.map(hashKeyOf)
      // prefix truncation keeps only the INCLUSIVE bound of a strict
      // string comparison (url > L admits url sharing L's 8-byte
      // prefix)
      case GreaterThan(a, l) if strAttrOf(a).isDefined &&
          strLitOf(l).isDefined =>
        tighten(strAttrOf(a).get, prefixKeyOf(strLitOf(l).get),
          Long.MaxValue)
      case GreaterThanOrEqual(a, l) if strAttrOf(a).isDefined &&
          strLitOf(l).isDefined =>
        tighten(strAttrOf(a).get, prefixKeyOf(strLitOf(l).get),
          Long.MaxValue)
      case LessThan(a, l) if strAttrOf(a).isDefined &&
          strLitOf(l).isDefined =>
        tighten(strAttrOf(a).get, Long.MinValue,
          prefixKeyOf(strLitOf(l).get))
      case LessThanOrEqual(a, l) if strAttrOf(a).isDefined &&
          strLitOf(l).isDefined =>
        tighten(strAttrOf(a).get, Long.MinValue,
          prefixKeyOf(strLitOf(l).get))
      // reversed comparisons (lit OP strAttr) flip the inequality
      case GreaterThan(l, a) if strAttrOf(a).isDefined &&
          strLitOf(l).isDefined =>
        tighten(strAttrOf(a).get, Long.MinValue,
          prefixKeyOf(strLitOf(l).get))
      case GreaterThanOrEqual(l, a) if strAttrOf(a).isDefined &&
          strLitOf(l).isDefined =>
        tighten(strAttrOf(a).get, Long.MinValue,
          prefixKeyOf(strLitOf(l).get))
      case LessThan(l, a) if strAttrOf(a).isDefined &&
          strLitOf(l).isDefined =>
        tighten(strAttrOf(a).get, prefixKeyOf(strLitOf(l).get),
          Long.MaxValue)
      case LessThanOrEqual(l, a) if strAttrOf(a).isDefined &&
          strLitOf(l).isDefined =>
        tighten(strAttrOf(a).get, prefixKeyOf(strLitOf(l).get),
          Long.MaxValue)
      case EqualTo(a, l) if attrOf(a).isDefined && litOf(l).isDefined =>
        val (c, v) = (attrOf(a).get, litOf(l).get)
        tighten(c, v, v); eqs += c -> Seq(v)
      case EqualTo(l, a) if attrOf(a).isDefined && litOf(l).isDefined =>
        val (c, v) = (attrOf(a).get, litOf(l).get)
        tighten(c, v, v); eqs += c -> Seq(v)
      case In(a, vs) if attrOf(a).isDefined && vs.nonEmpty &&
          vs.forall(litOf(_).isDefined) =>
        val c = attrOf(a).get
        val values = vs.flatMap(litOf)
        tighten(c, values.min, values.max)
        eqs += c -> values
      case GreaterThan(a, l) if attrOf(a).isDefined && litOf(l).isDefined
          && litOf(l).get < Long.MaxValue =>
        tighten(attrOf(a).get, litOf(l).get + 1, Long.MaxValue)
      case GreaterThanOrEqual(a, l)
          if attrOf(a).isDefined && litOf(l).isDefined =>
        tighten(attrOf(a).get, litOf(l).get, Long.MaxValue)
      case LessThan(a, l) if attrOf(a).isDefined && litOf(l).isDefined
          && litOf(l).get > Long.MinValue =>
        tighten(attrOf(a).get, Long.MinValue, litOf(l).get - 1)
      case LessThanOrEqual(a, l)
          if attrOf(a).isDefined && litOf(l).isDefined =>
        tighten(attrOf(a).get, Long.MinValue, litOf(l).get)
      // reversed comparisons (lit OP attr) flip the inequality
      case GreaterThan(l, a) if attrOf(a).isDefined && litOf(l).isDefined
          && litOf(l).get > Long.MinValue =>
        tighten(attrOf(a).get, Long.MinValue, litOf(l).get - 1)
      case GreaterThanOrEqual(l, a)
          if attrOf(a).isDefined && litOf(l).isDefined =>
        tighten(attrOf(a).get, Long.MinValue, litOf(l).get)
      case LessThan(l, a) if attrOf(a).isDefined && litOf(l).isDefined
          && litOf(l).get < Long.MaxValue =>
        tighten(attrOf(a).get, litOf(l).get + 1, Long.MaxValue)
      case LessThanOrEqual(l, a)
          if attrOf(a).isDefined && litOf(l).isDefined =>
        tighten(attrOf(a).get, litOf(l).get, Long.MaxValue)
      case _ => () // unrecognized conjunct: contributes no pruning
    }
    (bounds.filterNot { case (_, (lo, hi)) =>
      lo == Long.MinValue && hi == Long.MaxValue }, eqs, heqs)
  }

  /** Row-level MERGE (upsert) as a COPY-ON-WRITE commit — the lakehouse
    * primitive that physically retires superseded rows instead of
    * reconciling them at read time: rows of the current snapshot whose
    * `keys` appear in `updates` are REPLACED by the matching `updates`
    * row, unmatched `updates` rows are INSERTED, and only the data
    * files that actually contain a matched key are rewritten — the new
    * manifest carries every untouched file VERBATIM plus the rewritten
    * survivors + updates. History stays time-travelable (the parent
    * version still lists the original files untouched) and [[vacuum]]
    * reclaims the superseded files once the parent retires.
    *
    * This makes the reference's URL-keyed `ON CONFLICT … DO UPDATE`
    * upsert (`linkgraph/store/cdb/cdb.go:16-22`) a STORAGE-level
    * operation; its keep-newest tie rule is the caller pre-reducing
    * `updates` (e.g. [[StoreOps.latestByKey]] against the snapshot)
    * before committing. `updates` must be key-unique and share the
    * table schema.
    *
    * Cost model at 100 TB: one column-pruned scan of the key columns to
    * find touched files (parquet min/max prunes most), one rewrite of
    * ONLY those files, one metadata publish. A merge touching 0.1% of
    * files rewrites 0.1% of the table — never a full overwrite.
    * Concurrency: rewrites conflict-detect rather than blind-retry — a
    * commit landing mid-rewrite raises ConcurrentModificationException
    * instead of silently dropping it. Like every rewrite commit, it
    * plans from its parent's [[Snapshot]] ([[rewriteParent]]),
    * schema-DDL state included. */
  def commitMerge(updates: DataFrame, root: String,
                  keys: Seq[String], cdc: Boolean = false): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val spark = updates.sparkSession
    val s = latest(root)
    // the table-level CDF property turns cdc on for every rewrite
    val cdcOn = cdc || s.cdfEnabled
    import org.apache.spark.sql.functions.{col, lit}
    // cdc=true (Delta's delta.enableChangeDataFeed role): stage the
    // commit's EXACT row changes as a cdc/<uuid>/ sidecar — matched
    // old rows as 'delete', every update row as 'insert' (the
    // delete+insert pair is CDC's canonical update encoding) — so
    // [[readChangeFeed]] stays derivable across this rewrite. Cost:
    // one extra write of changed rows (they are already in hand), off
    // by default.
    def cdcOf(deletes: Option[DataFrame]): Seq[String] =
      if (!cdcOn) Nil
      else {
        val ins = updates.withColumn("_change_type", lit("insert"))
        stageCdc(s.fs, s.rootPath, deletes
          .map(_.withColumn("_change_type", lit("delete"))
            .unionByName(ins)).getOrElse(ins), s.ddl)
      }
    if (s.version == 0L)
      // merging into an empty table is a plain insert — but STILL a
      // rewrite commit composed against a specific snapshot (the empty
      // one), so it conflict-detects like every other merge: a racing
      // first append landing between the snapshot and publish raises
      // instead of being silently overwritten by this manifest
      return publish(spark, s, stage(updates, s) ++ cdcOf(None), "merge",
        Rewrite)
    val updKeys = updates.select(keys.map(col): _*).distinct()
    requireNoDv(s.dvFiles, root, "MERGE")
    // sidecar pre-pruning: only files whose stats/bloom metadata admits
    // the update keys enter the match scan — the rest provably hold no
    // matched row and ride into the new manifest verbatim, unscanned
    val (candidates, skipped) = pruneMergeScan(updates, s, keys)
    val (touched, unmatchedScanned) =
      if (candidates.isEmpty) (Nil, Nil)
      else touchedFiles(spark, s, candidates,
        _.join(updKeys, keys, "left_semi"))
    val untouched = skipped ++ unmatchedScanned
    val (staged, cdcStaged) =
      if (touched.isEmpty)
        (stage(updates, s, s.layout), cdcOf(None)) // pure insert
      else {
        val touchedScan = logical(spark, s, touched)
        val survivors = touchedScan.join(updKeys, keys, "left_anti")
        (stage(survivors.unionByName(updates), s, s.layout),
          cdcOf(Some(touchedScan.join(updKeys, keys, "left_semi"))))
      }
    publish(spark, s, untouched ++ staged ++ cdcStaged, "merge", Rewrite)
  }

  /** One WHEN clause of a general [[commitMergeConditional]] MERGE.
    * `kind`: "update" | "delete" (matched / not-matched-by-source) or
    * "insert" (not-matched). Expressions reference the merge's joined
    * namespace: `__t_<col>` target values, `__s_<col>` source values —
    * so `t.v < s.v` arrives as `__t_v < __s_v` with zero ambiguity
    * even though both sides share every column name. `assignments`
    * map TARGET column name → value expression; columns an update
    * leaves unassigned keep their target value, columns an insert
    * leaves unassigned become null. */
  final case class MergeClause(
      condition: Option[org.apache.spark.sql.Column],
      kind: String,
      assignments: Seq[(String, org.apache.spark.sql.Column)])

  /** General MERGE (the full SQL grammar): conditional matched
    * updates/deletes, conditional not-matched inserts (with column
    * lists), and NOT MATCHED BY SOURCE clauses — evaluated with
    * standard first-matching-clause-wins semantics. One copy-on-write
    * commit:
    *
    *  - files that provably hold no affected row ride into the new
    *    manifest BY REFERENCE (key-pruned exactly like
    *    [[commitMerge]]); with NOT MATCHED BY SOURCE clauses every
    *    target row is potentially affected, so every file rewrites —
    *    the semantics force it;
    *  - affected rows evaluate through ONE outer join + projection +
    *    filter (codegen-friendly, fully distributed, no driver loop);
    *  - a source carrying duplicate keys that MATCH a target row is
    *    refused (the standard's "cannot update the same row twice"
    *    ambiguity, Delta raises the same); duplicates that only
    *    insert are legal and insert once each.
    *
    * The reference's keep-newest URL upsert
    * (linkgraph/store/cdb/cdb.go:16-22) is exactly a conditional
    * matched action in this grammar: WHEN MATCHED AND s.retrieved_at >
    * t.retrieved_at THEN UPDATE. Plans from the parent snapshot
    * ([[rewriteParent]]; schema-DDL state as of the parent). */
  def commitMergeConditional(source: DataFrame, root: String,
      keys: Seq[String],
      matched: Seq[MergeClause],
      notMatched: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause],
      cdc: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, when}
    require(keys.nonEmpty, "merge needs at least one key column")
    matched.foreach(c => require(c.kind == "update" || c.kind == "delete",
      s"matched clause must be update/delete, got ${c.kind}"))
    notMatched.foreach(c => require(c.kind == "insert",
      s"not-matched clause must be insert, got ${c.kind}"))
    notMatchedBySource.foreach(c =>
      require(c.kind == "update" || c.kind == "delete",
        s"not-matched-by-source clause must be update/delete, got " +
          c.kind))
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "merge needs at least one clause")
    val spark = source.sparkSession
    val s = latest(root)
    // the table-level CDF property turns cdc on for every rewrite
    val cdcOn = cdc || s.cdfEnabled
    val parentFiles = s.dataFiles
    requireNoDv(s.dvFiles, root, "MERGE")

    val fields: Seq[org.apache.spark.sql.types.StructField] =
      s.ddl.map(_.schema.fields.toSeq).getOrElse {
        if (parentFiles.nonEmpty) s.schema(spark).fields.toSeq
        else tableSchema(root).map(_.fields.toSeq).getOrElse(
          // table birth by merge: the insert clauses define the shape
          source.schema.fields.toSeq)
      }
    keys.foreach(k => require(fields.exists(_.name == k),
      s"merge key $k is not a column of $root"))
    (fields.map(_.name) ++ source.columns).foreach(n =>
      require(!n.startsWith("__t_") && !n.startsWith("__s_"),
        s"column name $n is reserved by MERGE's joined namespace"))
    // an insert clause leaving a NOT NULL column unassigned would
    // write nulls a non-nullable read then misrenders — refuse (the
    // standard's NOT NULL violation)
    notMatched.foreach { c =>
      val assigned = c.assignments.map(_._1).toSet
      val missing = fields.filter(f => !f.nullable && !assigned(f.name))
      require(missing.isEmpty,
        "MERGE insert clause omits NOT NULL column(s) " +
          s"${missing.map(_.name).mkString(", ")}")
    }

    def cond(c: MergeClause): org.apache.spark.sql.Column =
      coalesce(c.condition.getOrElse(lit(true)), lit(false))
    /** first-matching-clause-wins keep flag. */
    def keepOf(clauses: Seq[MergeClause],
               default: org.apache.spark.sql.Column) =
      clauses.foldRight(default)((c, els) =>
        when(cond(c), lit(c.kind != "delete")).otherwise(els))
    /** first-matching-clause-wins value of column `f`. */
    def valueOf(clauses: Seq[MergeClause],
                f: org.apache.spark.sql.types.StructField,
                default: org.apache.spark.sql.Column) =
      clauses.foldRight(default)((c, els) => when(cond(c), c.kind match {
        case "update" => c.assignments.toMap.get(f.name)
          .map(_.cast(f.dataType)).getOrElse(col("__t_" + f.name))
        case "insert" => c.assignments.toMap.get(f.name)
          .map(_.cast(f.dataType))
          .getOrElse(lit(null).cast(f.dataType))
        case _ => default // delete rows are filtered; value unused
      }).otherwise(els))

    // table birth / emptied table: only the insert clauses can apply
    if (parentFiles.isEmpty) {
      val sPref = source.select(source.columns.toSeq
        .map(c => col(c).as("__s_" + c)): _*)
      val keep = keepOf(notMatched, lit(false))
      val out = sPref.filter(keep).select(fields.map(f =>
        valueOf(notMatched, f, lit(null).cast(f.dataType))
          .as(f.name)): _*)
      val staged = stage(out, s)
      if (staged.isEmpty) return s.version
      return publish(spark, s, staged, "merge", Rewrite)
    }

    // candidate selection: with NOT MATCHED BY SOURCE every target row
    // is potentially affected (unmatched rows live in files the key
    // probes would skip), so the rewrite is necessarily full-table;
    // otherwise prune exactly like the canonical upsert
    val updKeys = source.select(keys.map(col): _*).distinct()
    val (touched, untouched) =
      if (notMatchedBySource.nonEmpty) (parentFiles, Seq.empty[String])
      else {
        val (candidates, skipped) = pruneMergeScan(source, s, keys)
        val (t, unmatchedScanned) =
          if (candidates.isEmpty) (Nil, Nil)
          else touchedFiles(spark, s, candidates,
            _.join(updKeys, keys, "left_semi"))
        (t, skipped ++ unmatchedScanned)
      }

    // nothing matched and nothing to insert: metadata no-op
    if (touched.isEmpty && notMatched.isEmpty) return s.version

    val touchedScan =
      if (touched.isEmpty) None else Some(logical(spark, s, touched))

    // multi-match ambiguity: duplicate source keys hitting ONE target
    // row would apply two updates to it — refuse, like Delta. The
    // guard is two-staged so the common dup-free source never pays a
    // second touched-file scan: a source-sized distinct check first,
    // and only an actual duplicate probes the (rewrite-sized) target.
    if (matched.nonEmpty && touchedScan.nonEmpty) {
      val dups = source.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L)
        .drop("__n")
      if (dups.limit(1).count() > 0L) {
        val clash = touchedScan.get.join(dups, keys, "left_semi")
          .limit(1).count()
        require(clash == 0L,
          "MERGE source holds multiple rows for a key that matches " +
            "one target row - deduplicate the source (ambiguous update)")
      }
    }

    val tPref = touchedScan.map(t => t.select(fields.map(f =>
        col(f.name).as("__t_" + f.name)): _*)
      .withColumn("__t_present", lit(true)))
    val sPref = source.select(source.columns.toSeq
        .map(c => col(c).as("__s_" + c)): _*)
      .withColumn("__s_present", lit(true))

    /** Did ANY clause of the set fire for this row? (Which one wins is
      * the keep/value fold's job; fired-ness marks the row CHANGED for
      * the change-data record.) */
    def firedOf(clauses: Seq[MergeClause]) =
      clauses.map(cond).reduceOption(_ || _).getOrElse(lit(false))

    val (result, cdcStaged) = tPref match {
      case None =>
        // nothing matched: only inserts can produce rows — and an
        // insert-only commit removes no files, so the change feed
        // derives its inserts from the file algebra with no sidecar
        val keep = keepOf(notMatched, lit(false))
        (sPref.filter(keep).select(fields.map(f =>
          valueOf(notMatched, f, lit(null).cast(f.dataType))
            .as(f.name)): _*), Seq.empty[String])
      case Some(t) =>
        val joinCond = keys.map(k =>
          col("__t_" + k) === col("__s_" + k)).reduce(_ && _)
        val joinType =
          if (notMatched.nonEmpty) "full_outer" else "left_outer"
        val joined = t.join(sPref, joinCond, joinType)
        val tHere = coalesce(col("__t_present"), lit(false))
        val sHere = coalesce(col("__s_present"), lit(false))
        val keep = when(tHere && sHere, keepOf(matched, lit(true)))
          .when(tHere && !sHere, keepOf(notMatchedBySource, lit(true)))
          .otherwise(keepOf(notMatched, lit(false)))
        val outCols = fields.map { f =>
          val tVal = col("__t_" + f.name)
          when(tHere && sHere, valueOf(matched, f, tVal))
            .when(tHere && !sHere, valueOf(notMatchedBySource, f, tVal))
            .otherwise(valueOf(notMatched, f,
              lit(null).cast(f.dataType)))
            .cast(f.dataType).as(f.name)
        }
        val cdcFiles =
          if (!cdcOn) Nil
          else {
            // exact change records (CDC's delete+insert encoding):
            // rows where a clause FIRED emit their old image as
            // delete (target-present rows) and their new image as
            // insert (kept rows) — unchanged rows emit nothing
            val fired = when(tHere && sHere, firedOf(matched))
              .when(tHere && !sHere, firedOf(notMatchedBySource))
              .otherwise(firedOf(notMatched))
            val changed = joined.filter(fired)
            val dels = changed.filter(tHere)
              .select(fields.map(f =>
                col("__t_" + f.name).cast(f.dataType).as(f.name)): _*)
              .withColumn("_change_type", lit("delete"))
            val ins = changed.filter(keep).select(outCols: _*)
              .withColumn("_change_type", lit("insert"))
            stageCdc(s.fs, s.rootPath, dels.unionByName(ins), s.ddl)
          }
        (joined.filter(keep).select(outCols: _*), cdcFiles)
    }

    publish(spark, s,
      untouched ++ stage(result, s, s.layout) ++ cdcStaged, "merge",
      Rewrite)
  }

  /** Row-level DELETE as a copy-on-write commit: rows matching
    * `predicate` are physically removed from the new version — only
    * the files containing a matching row are rewritten (minus the
    * matches), every other file rides into the new manifest verbatim.
    * The GDPR-delete path: history still holds the rows until
    * [[vacuum]] retires the pre-delete versions, which is exactly the
    * retention semantics regulators expect a lakehouse to document.
    * A predicate matching nothing is a metadata no-op (returns the
    * current version, no new commit). Same conflict detection as
    * [[commitMerge]]; plans from the parent snapshot
    * ([[rewriteParent]]; schema-DDL state as of the parent). */
  def commitDelete(spark: SparkSession, root: String,
                   predicate: org.apache.spark.sql.Column,
                   cdc: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val s = rewriteParent(root)
    requireNoDv(s.dvFiles, root, "copy-on-write DELETE")
    if (s.dataFiles.isEmpty) return s.version // already empty: no-op
    // the table-level CDF property turns cdc on for every rewrite
    val cdcOn = cdc || s.cdfEnabled
    val (candidates, skipped) = prunePredicate(spark, s, predicate)
    if (candidates.isEmpty) return s.version
    val (touched, unmatchedScanned) =
      touchedFiles(spark, s, candidates, _.filter(predicate))
    val untouched = skipped ++ unmatchedScanned
    if (touched.isEmpty) return s.version
    // SQL DELETE semantics: remove rows where the predicate is TRUE;
    // a null-evaluating predicate keeps its row (bare !predicate would
    // drop those too)
    val matched = coalesce(predicate, lit(false))
    val touchedScan = logical(spark, s, touched)
    // cdc=true: the deleted rows become this commit's change record
    // (one extra pass over the touched files), keeping the feed
    // derivable across the rewrite
    val cdcStaged =
      if (!cdcOn) Nil
      else stageCdc(s.fs, s.rootPath, touchedScan.filter(matched)
        .withColumn("_change_type", lit("delete")), s.ddl)
    publish(spark, s,
      untouched ++ stage(touchedScan.filter(not(matched)), s, s.layout) ++
        cdcStaged, "delete", Rewrite)
  }

  /** Copy-on-write UPDATE (SQL `UPDATE t SET c = e WHERE p`): rewrite
    * ONLY the files holding a matching row, with each matched row's
    * assigned columns replaced (ANSI-cast to the column's existing
    * type — a lossy narrowing throws, it never corrupts) and every
    * other row byte-identical; untouched files ride into the new
    * manifest by reference. The match scan pre-prunes through the
    * same sidecar + partition-path probes as DELETE, so an update
    * touching one partition's rows rewrites only that partition's
    * files. cdc = true stages the matched rows' old values as
    * `delete` and new values as `insert` (CDC's canonical update
    * encoding). A condition matching nothing is a metadata no-op.
    * Plans from the parent snapshot ([[rewriteParent]]; schema-DDL
    * state as of the parent). */
  def commitUpdate(spark: SparkSession, root: String,
      condition: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      cdc: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    val s = rewriteParent(root)
    requireNoDv(s.dvFiles, root, "copy-on-write UPDATE")
    if (s.dataFiles.isEmpty) return s.version // no rows to update: no-op
    // the table-level CDF property turns cdc on for every rewrite
    val cdcOn = cdc || s.cdfEnabled
    // the logical schema the assignments and the rewrite speak
    val schema = s.ddl.map(_.schema).getOrElse(s.schema(spark))
    assignments.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"UPDATE assigns unknown column $c (table has " +
          s"${schema.fieldNames.mkString(", ")})") }
    val flag = "__graft_update_matched"
    require(!schema.fieldNames.contains(flag),
      s"column name $flag is reserved by UPDATE")
    val (candidates, skipped) = prunePredicate(spark, s, condition)
    if (candidates.isEmpty) return s.version
    val (touched, unmatchedScanned) =
      touchedFiles(spark, s, candidates, _.filter(condition))
    if (touched.isEmpty) return s.version
    val untouched = skipped ++ unmatchedScanned
    // the matched flag is computed ONCE over the original values —
    // assignments may change the very columns the condition reads
    val flagged = logical(spark, s, touched)
      .withColumn(flag, coalesce(condition, lit(false)))
    val assignMap = assignments.toMap
    val rewritten = flagged.select(
      (schema.fields.toSeq.map { f =>
        assignMap.get(f.name)
          .map(v => when(col(flag), v.cast(f.dataType))
            .otherwise(col(f.name)).as(f.name))
          .getOrElse(col(f.name))
      } :+ col(flag)): _*)
    val cdcStaged =
      if (!cdcOn) Nil
      else stageCdc(s.fs, s.rootPath,
        flagged.filter(col(flag)).drop(flag)
          .withColumn("_change_type", lit("delete"))
          .unionByName(rewritten.filter(col(flag)).drop(flag)
            .withColumn("_change_type", lit("insert"))), s.ddl)
    publish(spark, s,
      untouched ++ stage(rewritten.drop(flag), s, s.layout) ++ cdcStaged,
      "update", Rewrite)
  }

  /** Atomic predicate replacement (Delta's `replaceWhere` — THE
    * partition-backfill idiom): ONE commit whose manifest drops every
    * row matching `predicate` and adds `df`'s rows instead. `df` must
    * contain only rows matching the predicate (validated with one
    * count, exactly as Delta validates) so the operation stays the
    * declarative "replace this region", never a disguised full
    * overwrite. The match scan pre-prunes through the same sidecar +
    * partition-path probes as DELETE, so re-deriving one partition of
    * a 100 TB table scans and rewrites only that partition's files —
    * and readers flip from old region to new region atomically at
    * manifest publish. An empty match region degrades to a plain
    * append of `df` (backfill into new territory). cdc = true stages
    * the removed rows as `delete` and the new rows as `insert` change
    * records so the feed stays derivable across the rewrite. Plans
    * from the parent snapshot ([[rewriteParent]]; schema-DDL state as
    * of the parent). */
  def commitReplaceWhere(df: DataFrame, root: String,
      predicate: org.apache.spark.sql.Column,
      cdc: Boolean = false,
      partitionBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val spark = df.sparkSession
    val s = forWrite(rewriteParent(root), df.schema)
    requireNoDv(s.dvFiles, root, "replaceWhere")
    // the table-level CDF property turns cdc on for every rewrite
    val cdcOn = cdc || s.cdfEnabled
    // the table's own layout wins when the caller didn't name one, so
    // a region replacement never flattens a partitioned table
    val layout = if (partitionBy.nonEmpty) partitionBy else s.layout
    // stage the replacement FIRST, then validate on the bytes as
    // written — the frame is computed exactly once, so the rows
    // checked against the region predicate (and the CHECK
    // constraints, inside stage) are the rows being committed even
    // for a non-deterministic input
    val newStaged = stage(df, s, layout)
    val newScan = stagedScan(spark, s.rootPath, newStaged)
      .map(toLogical(s, _))
    newScan.map(_.filter(not(coalesce(predicate, lit(false)))).count())
      .filter(_ > 0L).foreach { strays =>
        newStaged.map(_.split('/').take(2).mkString("/")).distinct
          .foreach(d => try s.fs.delete(s.path(d), true)
            catch { case scala.util.control.NonFatal(_) => () })
        throw new IllegalArgumentException(
          s"replaceWhere frame carries $strays rows OUTSIDE the " +
            "predicate - widen the predicate or filter the frame " +
            "(silently keeping them would turn a region replacement " +
            "into a blind overwrite)")
      }
    val (candidates, skipped) = prunePredicate(spark, s, predicate)
    val (touched, unmatchedScanned) =
      if (candidates.isEmpty) (Nil, Nil)
      else touchedFiles(spark, s, candidates, _.filter(predicate))
    val untouched = skipped ++ unmatchedScanned
    val matched = coalesce(predicate, lit(false))
    val touchedScan =
      if (touched.isEmpty) None else Some(logical(spark, s, touched))
    val survivorsStaged = touchedScan
      .map(t => stage(t.filter(not(matched)), s, layout)).getOrElse(Nil)
    val cdcStaged =
      if (!cdcOn) Nil
      else {
        val deletes = touchedScan.map(t => stageCdc(s.fs, s.rootPath,
            t.filter(matched).withColumn("_change_type", lit("delete")),
            s.ddl))
          .getOrElse(Nil)
        // insert records from the staged bytes, not a re-evaluation
        deletes ++ newScan.map(n => stageCdc(s.fs, s.rootPath,
          n.withColumn("_change_type", lit("insert")), s.ddl))
          .getOrElse(Nil)
      }
    publish(spark, s,
      untouched ++ survivorsStaged ++ newStaged ++ cdcStaged,
      "replace-where", Rewrite, statsCols = statsCols,
      bloomCols = bloomCols)
  }

  /** Absolute data-file paths of the snapshot at `version` (latest
    * when 0) — for callers whose READ path needs more than a plain
    * parquet scan of the file list (e.g. registering a bucketed
    * catalog table over a committed version's directory, which is how
    * the admission index pins its probe to a version). Manifest-sized,
    * driver-side. */
  def files(root: String, version: Long = 0L): Seq[String] = {
    val s = snapshot(root, version)
    s.entries.map(s.path(_).toString)
  }

  /** Fresh, isolated staging directory under the store's data path,
    * for callers that write their OWN file layout (bucketed tables,
    * multi-subdirectory stages) instead of going through [[stage]];
    * publish it with [[commitStagedDir]]. Nothing under it is visible
    * until that commit — an abandoned stage is an orphan, swept by
    * [[vacuum]] like any crashed half-commit. */
  def newStageDir(root: String): String = {
    val (fs, rootPath) = fsRoot(root)
    val dir = new Path(new Path(rootPath, "data"),
      java.util.UUID.randomUUID().toString)
    fs.mkdirs(dir)
    dir.toString
  }

  /** Overwrite-commit every parquet file under a caller-written
    * staging directory (recursive — one stage may hold several
    * sub-layouts, e.g. a band table AND its sidecar so both flip
    * atomically in ONE manifest). `txn` stamps the manifest with a
    * caller fingerprint (e.g. the source table's mtime) readable back
    * via [[latestTxnBatch]] — a staleness check with no dedupe
    * semantics: re-staging the same fingerprint still commits a new
    * version (unlike [[commitAppendTxn]]'s exactly-once skip). */
  def commitStagedDir(root: String, stageDir: String,
                      txn: Option[(String, Long)] = None): Long = {
    val s = latest(root)
    val fs = s.fs
    val prefix = s.rootPath.toString + "/"
    def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
      else Nil
    }
    val rel = walk(fs.makeQualified(new Path(stageDir)))
      .map(p => fs.makeQualified(p).toString.stripPrefix(prefix)).sorted
    requireFiles(root, rel)
    publish(SparkSession.active, s, rel, "staged-overwrite", Replace, txn)
  }

  /** Read the snapshot at `version` (latest when 0) — exactly the
    * manifest's files, never a directory listing, so concurrent
    * commits and orphaned half-written data are invisible.
    *
    * `mergeSchema` = schema EVOLUTION across an append lineage: a
    * later batch may add columns, and the merged read unions the file
    * schemas — pre-evolution rows surface the new columns as null.
    * Off by default because merging reads every file's footer at
    * planning time; a version whose commits all share one schema
    * doesn't need it, and a pinned pre-evolution version keeps its
    * original narrower schema either way. */
  def read(spark: SparkSession, root: String, version: Long = 0L,
           mergeSchema: Boolean = false): DataFrame = {
    val s = snapshot(root, version)
    // mergeSchema reads genuinely need every footer — keep the generic
    // reader there (a schema-DDL state already fixes the read schema)
    if (mergeSchema && s.ddl.isEmpty && s.dataFiles.nonEmpty)
      applyDeleteVectors(spark, s, spark.read.option("mergeSchema", "true")
        .parquet(s.dataFiles.map(s.path(_).toString): _*))
    else scanAdmitted(spark, s, s.dataFiles)
  }

  /** ONE resolution of the version range (`from`, `to`] of an append
    * lineage: `to`'s snapshot (0 = latest) and the data entries it
    * lists that `from` did not, in `to`'s manifest order. `to`
    * resolves through [[snapshot]] (one listing, one open), so the
    * schema-DDL state in force at `to` comes with it; `from` = 0 is
    * table birth and opens nothing, above it `from`'s manifest opens
    * once. Data files are immutable, so the set difference is exact —
    * but only over appends. A range in which one of `from`'s entries is
    * gone at `to` (overwrite, copy-on-write rewrite, DV purge, restore
    * past it) or that adds a deletion vector would replay recopied rows
    * as new and keep deleted ones, so it is refused: the append-lineage
    * guard of every incremental read. CDC sidecars are per-version
    * change records, not table data, and count as neither. An
    * append-consistent range can add nothing (a RESTORE back to
    * exactly `from`'s files). */
  private[graft] def appendedRange(root: String, from: Long, to: Long)
      : (Snapshot, Seq[String]) = {
    val s = snapshot(root, to)
    require(from >= 0L && s.version > from,
      s"need committed versions $from < ${s.version} at $root")
    val base = rangeManifest(s.fs, s.rootPath, root, from, s.version)(from)
      ._2.filterNot(isCdcEntry).toSet
    val missing = base -- s.entries
    require(missing.isEmpty,
      s"versions $from..${s.version} of $root are not an append lineage " +
        s"(a rewrite commit removed ${missing.size} files); incremental " +
        "reads are only exact over appends - re-read the full snapshot " +
        "instead")
    require(from == 0L || s.dvFiles.forall(base),
      s"versions $from..${s.version} of $root include a deletion-vector " +
        "commit: rows were logically REMOVED, so the range is not an " +
        "append lineage - re-read the full snapshot")
    (s, s.dataFiles.filterNot(base))
  }

  /** The rows of [[appendedRange]]'s files, scanned under `s`'s
    * schema-DDL state. The scan reads the delta's own footers, not the
    * snapshot's first file, so a schema-evolution append surfaces its
    * new columns (the stream's drift guard relies on that); new files
    * carry no tombstones, so no anti-join applies. */
  private[graft] def appendedScan(spark: SparkSession, s: Snapshot,
                                  added: Seq[String]): DataFrame = {
    val df = dataScan(spark, s.rootPath, added, s.ddl)
    s.ddl.fold(df)(toLogicalFrame(df, _))
  }

  /** The DATA files of an initial-snapshot cut, in DETERMINISTIC
    * (sorted) order, as absolute paths: [[appendedRange]] over
    * (`baseVersion`, `version`] (base 0 = table birth). The streaming
    * source paces its first batch by slicing this list — the order
    * must be reconstructible from manifests alone so a restarted
    * query resumes at the exact file its checkpoint recorded.
    * Deletion-vector entries are excluded (the snapshot APPLIES them;
    * they are not scannable data). A cut anchored above table birth
    * carries the append-lineage guard of every incremental read, and a
    * vacuumed manifest inside it is the re-seed error. */
  def snapshotCutFiles(root: String, baseVersion: Long,
                       version: Long): Seq[String] = {
    val (s, added) = appendedRange(root, baseVersion, version)
    added.sorted.map(s.path(_).toString)
  }

  /** Smallest version whose manifest survives (vacuum retires history
    * from the bottom), or 0 on an empty table. */
  def earliestVersion(root: String): Long =
    manifestTimes(root).headOption.fold(0L)(_._1)

  /** Incremental consumption (the CDC-read of every lakehouse log):
    * the rows ADDED between `fromVersion` (exclusive) and `toVersion`
    * (inclusive) of an append lineage — [[appendedRange]]'s files, a
    * METADATA set difference, scanned under `toVersion`'s schema-DDL
    * state ([[appendedScan]]). A downstream consumer (index refresh,
    * stats maintenance, training-shard top-up) reads only the delta
    * files, so its cost tracks the delta, never the table. A range
    * that is not an append lineage fails loudly instead of returning
    * changes that silently double-count, and so does one that added
    * no file (an empty parquet scan has no schema). */
  def readChanges(spark: SparkSession, root: String, fromVersion: Long,
                  toVersion: Long): DataFrame = {
    require(fromVersion >= 1 && toVersion > fromVersion,
      s"need committed versions $fromVersion < $toVersion at $root")
    val (s, added) = appendedRange(root, fromVersion, toVersion)
    require(added.nonEmpty,
      s"no files added between $fromVersion and $toVersion at $root")
    appendedScan(spark, s, added)
  }

  // ------------------------------------------------------------------
  // File-level data skipping: per-file column min/max in a stats
  // sidecar (`stats-v<N>.json` next to the manifest), so a reader with
  // a range predicate plans ONLY the files whose interval overlaps —
  // the manifest-level half of Delta/Iceberg data skipping, one layer
  // above parquet's own row-group pruning. At 100 TB the win is in the
  // PLANNING economics: a z-ordered table + file skipping turns a
  // selective two-column range scan from "open every footer" into
  // "open the handful of files the sidecar admits", and the sidecar
  // rides the same manifest-sized driver-side metadata discipline as
  // everything else here.
  //
  // Stats are OPTIONAL metadata, never correctness: a missing sidecar,
  // a file without an entry, or a column without stats simply keeps the
  // file in the scan. Since format v2 the per-version stats-v<N>.json
  // is a small index over binary shards (the bloom sidecar's exact
  // sharding — see its comment below), so per-commit stats cost is
  // O(delta files) too; v1 inline sidecars stay readable and migrate
  // on the next commit. Crash window: the sidecar is written AFTER its
  // manifest publishes, so a crash between the two leaves a version
  // that reads fine and prunes nothing. Columns must be integer-typed
  // (the repo's exact-micros discipline); min/max ignore nulls, which
  // is correct for range predicates (a NULL never satisfies one).

  private def statsPath(rootPath: Path, v: Long): Path =
    new Path(rootPath, s"stats-v$v.json")

  /** The sidecar version a commit on top of parent `p` continues its
    * lineage from: `newest` (the newest sidecar at or below `p`'s
    * version that `p`'s listing saw) when it is one of the last 8
    * versions, else 0. Sidecars are optional metadata written AFTER
    * the manifest publish, so a crash (or a concurrent writer's late
    * sidecar) can leave one version without one; continuing the
    * lineage from the newest EXISTING sidecar means that gap degrades
    * pruning for that one version's files only — not for every
    * version after it. The lookback is BOUNDED (each crash window
    * loses at most one version, so a handful covers any realistic
    * pile-up): a lineage abandoned long ago stays abandoned instead of
    * being revived by an unrelated later commit. */
  private def sidecarParent(p: Snapshot, newest: Long): Long =
    if (newest > 0L && newest >= p.version - 7L) newest else 0L

  /** Parsed sidecar metadata of one version, either format: column
    * list, shard references + entry word width (v2), inline entries
    * (v1 back-compat). Shared by the stats and bloom sidecars — both
    * are maps of fixed-width long vectors keyed by strings. */
  private case class SidecarMeta(cols: Seq[String], words: Int,
                                 shards: Seq[String],
                                 inline: Map[String, Seq[Long]])

  private def readSidecarMeta(fs: FileSystem, p: Path, colsKey: String)
      : Option[SidecarMeta] = {
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    val cols = ("\"" + colsKey + "\":\\s*\\[([^\\]]*)\\]").r
      .findFirstMatchIn(text)
      .map(_.group(1).split(',').map(_.trim.stripPrefix("\"")
        .stripSuffix("\"")).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val shards = "\"shards\":\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(text)
      .map(_.group(1).split(',').map(_.trim.stripPrefix("\"")
        .stripSuffix("\"")).filter(_.nonEmpty).toSeq)
    shards match {
      case Some(sh) => // v2 index
        val words = "\"words\":\\s*(\\d+)".r.findFirstMatchIn(text)
          .map(_.group(1).toInt).getOrElse(0)
        Some(SidecarMeta(cols, words, sh, Map.empty))
      case None => // v1 inline
        val entry = "\"([^\"]+)\":\\s*\\[([^\\]]*)\\]".r
        val entries = text.linesIterator.flatMap { line =>
          entry.findFirstMatchIn(line.trim).collect {
            case m if m.group(1) != colsKey =>
              m.group(1) -> m.group(2).split(',').map(_.trim.toLong).toSeq
          }
        }.toMap
        Some(SidecarMeta(cols,
          entries.headOption.map(_._2.size).getOrElse(0), Nil, entries))
    }
  }

  private def readStatsMeta(fs: FileSystem, rootPath: Path, v: Long)
      : Option[SidecarMeta] =
    readSidecarMeta(fs, statsPath(rootPath, v), "cols")

  /** (stat columns, file → flattened [rows,min0,max0,min1,max1,…]) of
    * the sidecar at version v, or (Nil, empty) when absent — the bulk
    * loader for interval pruning and metadata counts, which consult
    * every manifest file's entry anyway. */
  /** Driver-side LRU of fully-parsed stats shards, keyed by absolute
    * shard path. Shards are IMMUTABLE by construction (commits write
    * new ones, vacuum deletes dead ones, nothing rewrites in place),
    * so a cached parse can never go stale — this is the snapshot-cache
    * role Delta's DeltaLog plays: without it every query planning a
    * pruned scan re-opens and re-parses the same sidecar bytes. Size-
    * bounded; eviction only costs a re-parse. */
  private val statsShardCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Map[String, Seq[Long]]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, Seq[Long]]])
          : Boolean = size() > 64
    })

  private def readStatsSidecar(fs: FileSystem, rootPath: Path, v: Long)
      : (Seq[String], Map[String, Seq[Long]]) =
    readStatsMeta(fs, rootPath, v) match {
      case None => (Nil, Map.empty)
      case Some(meta) =>
        (meta.cols, meta.shards.foldLeft(meta.inline) { (acc, s) =>
          val key = resolve(rootPath, s).toString
          val cached = statsShardCache.get(key)
          acc ++ (if (cached != null) cached
          else {
            val parsed =
              readMetaShardEntries(fs, resolve(rootPath, s), null)
            statsShardCache.put(key, parsed)
            parsed
          })
        })
    }

  // Per-file BLOOM sidecar — point-lookup skipping for high-cardinality
  // columns where min/max intervals span the whole domain (an unsorted
  // id column prunes nothing by range, but a 64 Kib bloom per file
  // answers "can key X live here?" at planning time — Delta's
  // bloom-filter-index role). Same discipline as the stats sidecar:
  // optional metadata, missing anything keeps the file; FP saturation
  // (too many distinct values for the bit budget) degrades pruning,
  // never correctness.
  //
  // FORMAT v2 (sharded): `bloom-v<N>.json` is a small INDEX — columns,
  // bit width, and the list of binary SHARD files (`meta/bloom-*.bin`)
  // whose entries make up the version. Each commit writes at most one
  // new shard holding ONLY the entries its new files need; every other
  // shard is carried BY REFERENCE, so per-commit metadata cost is
  // O(delta files) at any table size. The v1 format inlined every
  // file's full bit array as decimal JSON and rewrote the whole thing
  // each commit — ~100 KB of text per file per version, which at
  // millions of files dwarfs the manifest by three orders of magnitude
  // and makes commit metadata O(table); v1 sidecars remain readable,
  // and the first commit on top of one migrates its live entries into
  // a shard. Shards are immutable like data files; vacuum reclaims the
  // ones no retained version's index references. A shard's key table
  // sits in its header, so maintenance reads headers only, and the
  // fixed-size bit arrays after it are SEEKABLE, so an equality probe
  // reads just the admitted files' arrays, not the whole sidecar.
  //
  // Shard layout (shared with the stats sidecar — both are fixed-width
  // long-vector maps): magic "GMSH2" | int words | int nEntries |
  //   nEntries × (int keyLen | utf8 key) |
  //   nEntries × (words longs), same order as the key table.

  private def bloomPath(rootPath: Path, v: Long): Path =
    new Path(rootPath, s"bloom-v$v.json")

  private val MetaShardMagic = "GMSH2"
    .getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Write one immutable fixed-width shard under `meta/`; returns its
    * root-relative path. Entries are (key, vector) with
    * vector.length == words. Shared by the bloom sidecar (words =
    * mBits/64 bloom words keyed "col|file") and the stats sidecar
    * (words = 1 + 2·|cols| keyed by file). Layout: magic | int words |
    * int n | n × (int keyLen | utf8 key) | n × (words longs). */
  private[store] def writeMetaShard(fs: FileSystem, rootPath: Path,
                             prefix: String, words: Int,
                             entries: Seq[(String, Seq[Long])])
      : String = {
    val rel = s"meta/$prefix-${java.util.UUID.randomUUID()}.bin"
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(
        fs.create(new Path(rootPath, rel), true), 1 << 16))
    try {
      out.write(MetaShardMagic)
      out.writeInt(words)
      out.writeInt(entries.size)
      entries.foreach { case (k, _) =>
        val b = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
      }
      entries.foreach { case (_, vec) =>
        require(vec.size == words,
          s"shard entry width ${vec.size} != $words")
        vec.foreach(out.writeLong)
      }
    } finally out.close()
    rel
  }

  /** (words, key table, byte offset of the first vector block) from a
    * shard's header — the cheap read maintenance does. */
  private def readMetaShardHeader(fs: FileSystem, p: Path)
      : (Int, Seq[String], Long) = {
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(p), 1 << 16))
    try {
      val magic = new Array[Byte](MetaShardMagic.length)
      in.readFully(magic)
      require(java.util.Arrays.equals(magic, MetaShardMagic),
        s"$p is not a metadata shard")
      val words = in.readInt()
      val n = in.readInt()
      var offset = (MetaShardMagic.length + 8).toLong
      val keys = (0 until n).map { _ =>
        val len = in.readInt()
        val b = new Array[Byte](len)
        in.readFully(b)
        offset += 4 + len
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
      }
      (words, keys, offset)
    } finally in.close()
  }

  /** Load `needed` entries (all when null) from one shard. Small needed
    * sets SEEK to their fixed-size vector blocks instead of streaming
    * the shard — a point lookup's planning cost tracks the files
    * probed, not the table's entry count. */
  private[store] def readMetaShardEntries(fs: FileSystem, p: Path,
                                   needed: Set[String])
      : Map[String, Seq[Long]] = {
    val (nWords, keys, dataOff) = readMetaShardHeader(fs, p)
    val wanted = keys.zipWithIndex
      .filter { case (k, _) => needed == null || needed(k) }
    if (wanted.isEmpty) return Map.empty
    val in = fs.open(p)
    try {
      if (wanted.size * 2 >= keys.size) {
        // bulk: stream every block, keep the wanted ones
        in.seek(dataOff)
        val d = new java.io.DataInputStream(
          new java.io.BufferedInputStream(in, 1 << 16))
        val all = keys.indices.map { i =>
          val arr = new Array[Long](nWords)
          var w = 0
          while (w < nWords) { arr(w) = d.readLong(); w += 1 }
          i -> arr
        }.toMap
        wanted.map { case (k, i) => k -> all(i).toSeq }.toMap
      } else {
        wanted.map { case (k, i) =>
          in.seek(dataOff + i.toLong * nWords * 8)
          val buf = new Array[Byte](nWords * 8)
          in.readFully(buf)
          val bb = java.nio.ByteBuffer.wrap(buf)
          k -> Seq.tabulate(nWords)(_ => bb.getLong)
        }.toMap
      }
    } finally in.close()
  }

  /** Parse the bloom sidecar of version v in either format. For v1
    * inline entries, `words` is the bloom word count (mBits/64). */
  private def readBloomMeta(fs: FileSystem, rootPath: Path, v: Long)
      : Option[SidecarMeta] =
    readSidecarMeta(fs, bloomPath(rootPath, v), "bloomcols")

  /** Load the `needed` bloom entries of a version (later shards win
    * over earlier ones and over inline v1 entries). */
  private def bloomEntriesFor(fs: FileSystem, rootPath: Path,
                              meta: SidecarMeta, needed: Set[String])
      : Map[String, Seq[Long]] =
    meta.shards.foldLeft(
      meta.inline.view.filterKeys(k => needed == null || needed(k)).toMap
    ) { (acc, s) =>
      acc ++ readMetaShardEntries(fs, resolve(rootPath, s), needed)
    }

  private val BloomHashes = 4

  /** Bit positions of `value` in an m-bit bloom (m = 64·words) —
    * evaluated through the IDENTICAL Catalyst expression the writer's
    * plan runs, so reader and writer can never drift. */
  private def bloomBitsOf(value: Long, mBits: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    (0 until BloomHashes).map { i =>
      val h = XxHash64(Seq(Literal(value), Literal(i.toLong)), 42L)
        .eval(null).asInstanceOf[Long]
      (((h % mBits) + mBits) % mBits).toInt
    }
  }

  /** Run the two sidecar-maintenance passes for version `v`, just
    * published on top of parent `p` with data files `files` (tombstone
    * files carry no table columns),
    * CONCURRENTLY (guide §2.6: overlap independent jobs). Each is an
    * independent column-pruned scan job + sidecar publish with no
    * shared state (stats-v<n> vs bloom-v<n>, distinct shard files),
    * and on a multi-commit lineage their ~100 ms fixed per-job costs
    * were strictly serial before — every commit on a stats+bloom table
    * paid both in sequence. Off lineages return instantly, so the
    * future is free where sidecars are not maintained. Both passes
    * read the parent lineage `p`'s listing saw and translate the
    * callers' logical column names through the schema-DDL state the
    * commit staged under; neither reads version v back. */
  private def maintainSidecars(spark: => SparkSession, p: Snapshot,
                               v: Long, files: Seq[String],
                               statsCols: Seq[String],
                               bloomCols: Seq[String],
                               bloomBits: Int): Unit = {
    import scala.concurrent.{Await, Future, blocking}
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // `blocking` marks the Spark-job wait for the fork-join pool so
    // concurrent commits can't starve the shared global executor.
    val stats = Future(blocking(
      maintainStats(spark, p, v, files, statsCols)))
    // The stats future must ALWAYS be awaited — abandoning it on a
    // bloom failure would swallow its exception and leave it racing a
    // caller that believes version v's sidecar maintenance is over.
    val blooms = scala.util.Try(
      maintainBlooms(spark, p, v, files, bloomCols, bloomBits))
    val statsRes = scala.util.Try(
      Await.result(stats, scala.concurrent.duration.Duration.Inf))
    blooms.get
    statsRes.get
  }

  /** Maintain the bloom sidecar for version `v` — the stats carry/
    * compute pattern, one scan per bloom column over only the files the
    * parent doesn't cover. Writes at most ONE new shard (the delta's
    * entries, plus a one-time migration of a v1 parent's live inline
    * entries) and a small index referencing it alongside the parent's
    * carried shards. */
  private def maintainBlooms(spark: => SparkSession, p: Snapshot, v: Long,
                             manifestFiles: Seq[String],
                             bloomCols0: Seq[String],
                             bloomBits: Int): Unit = {
    val (fs, rootPath) = (p.fs, p.rootPath)
    // sidecars key PHYSICAL names (the space staged files scan in);
    // callers name columns logically
    val bloomCols =
      if (bloomCols0.isEmpty) Nil else physCols(p.writeDdl, bloomCols0)
    val parentMeta = Some(sidecarParent(p, p.bloomVersion)).filter(_ > 0L)
      .flatMap(readBloomMeta(fs, rootPath, _))
    val parentCols = parentMeta.map(_.cols).getOrElse(Nil)
    val cols = if (bloomCols.nonEmpty) bloomCols else parentCols
    if (cols.isEmpty) return
    // continuing a lineage (no explicit cols) inherits the parent's
    // bit width, so every generation stays uniform
    val mBits =
      if (bloomCols.nonEmpty) bloomBits
      else parentMeta.map(_.words * 64).filter(_ > 0).getOrElse(return)
    require(mBits % 64 == 0 && mBits > 0,
      s"bloomBits must be a positive multiple of 64, got $mBits")
    val sameLineage = parentMeta.isDefined && cols == parentCols
    val live = manifestFiles.toSet
    def liveKey(k: String): Boolean =
      live(k.substring(k.indexOf('|') + 1))
    // carry parent shards BY REFERENCE — except ones whose every entry
    // points at a rewritten file (merge/delete/compact churn): dropping
    // fully-dead shards here bounds the index's shard list by live
    // coverage, not by commit count, and lets vacuum reclaim them once
    // the old versions retire. Header reads only.
    val parentShardKeys: Seq[(String, Seq[String])] =
      if (sameLineage)
        parentMeta.get.shards.map(s =>
          s -> readMetaShardHeader(fs, resolve(rootPath, s))._2)
      else Nil
    val carriedShards = parentShardKeys.collect {
      case (s, ks) if ks.exists(liveKey) => s
    }
    // one-time v1 migration: the parent's inline entries still covering
    // live files move into this commit's shard; dead entries drop
    val migrated: Seq[(String, Seq[Long])] =
      if (sameLineage && parentMeta.get.inline.nonEmpty)
        parentMeta.get.inline.toSeq.collect {
          case (k, words) if liveKey(k) => k -> words
        }
      else Nil
    val covered: Set[String] = parentShardKeys
      .filter { case (s, _) => carriedShards.contains(s) }
      .flatMap(_._2).toSet ++ migrated.map(_._1)
    import org.apache.spark.sql.functions.{array, col, explode, expr, lit, pmod, xxhash64}
    val computed = cols.flatMap { c =>
      val missing = manifestFiles.filter(f => !covered(s"$c|$f"))
      if (missing.isEmpty) Nil
      else {
        val byPath = missing.map { f =>
          fs.makeQualified(resolve(rootPath, f)).toUri.getPath -> f
        }.toMap
        val scan = dataScan(spark, rootPath, missing, None)
        // probes hash a LONG key: integral columns long-cast (the
        // probe value is the raw key), STRING columns hash through
        // xxhash64 first (the probe value is [[hashKeyOf]] of the
        // literal — the identical expression, so writer and prober
        // can never drift). Any other type writes no entries; files
        // without entries always admit
        val dt = scan.schema.fields.find(_.name == c).map(_.dataType)
        val keyLong =
          if (dt.exists(integralType)) Some(col(c).cast("long"))
          else if (dt.exists(stringType)) Some(hashKeyCol(col(c)))
          else None
        if (keyLong.isEmpty) Nil
        else {
        val positions = (0 until BloomHashes).map(i =>
          pmod(xxhash64(keyLong.get, lit(i.toLong)),
            lit(mBits.toLong)))
        val words = scan
          .filter(col(c).isNotNull)
          .select(col("_metadata.file_path").as("__fp"),
            explode(array(positions: _*)).as("pos"))
          .groupBy(col("__fp"), expr("pos div 64").as("w"))
          .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
            "CAST(pos % 64 AS INT)))").as("bits"))
          .collect()
          .groupBy(r => byPath(new Path(r.getString(0)).toUri.getPath))
          .map { case (f, rows) =>
            val arr = Array.fill(mBits / 64)(0L)
            rows.foreach(r => arr(r.getLong(1).toInt) = r.getLong(2))
            s"$c|$f" -> arr.toSeq
          }
        // a file whose column is entirely null gets an all-zero bloom
        // naturally (no rows survive the isNotNull filter → no entry →
        // synthesize zeros so equality probes on it CAN prune)
        missing.map { f =>
          val key = s"$c|$f"
          key -> words.getOrElse(key, Seq.fill(mBits / 64)(0L))
        }
        }
      }
    }
    val newEntries = (migrated ++ computed).sortBy(_._1)
    val shards = carriedShards ++
      (if (newEntries.nonEmpty)
        Seq(writeMetaShard(fs, rootPath, "bloom", mBits / 64, newEntries))
      else Nil)
    val body = s"""{"version": $v, "bloomcols": [""" +
      cols.map("\"" + _ + "\"").mkString(", ") +
      s"""], "words": ${mBits / 64}, "shards": [""" + "\n" +
      shards.map("\"" + _ + "\"").mkString(",\n") + "\n]}"
    writeFile(fs, bloomPath(rootPath, v), body)
  }

  /** Maintain the stats sidecar for freshly committed version `v`:
    * entries for files already covered by the parent's sidecar carry
    * over verbatim (append/merge/delete/compaction keep untouched files
    * untouched); entries for new files come from ONE column-pruned scan
    * of just those files. `statsCols` empty = continue the parent's
    * columns (stats enabled once at the first commit stay maintained
    * by every later commit on the lineage). */
  private def maintainStats(spark: => SparkSession, p: Snapshot, v: Long,
                            manifestFiles: Seq[String],
                            statsCols0: Seq[String]): Unit = {
    val (fs, rootPath) = (p.fs, p.rootPath)
    // sidecars key PHYSICAL names; callers name columns logically
    val statsCols =
      if (statsCols0.isEmpty) Nil else physCols(p.writeDdl, statsCols0)
    val parentMeta = Some(sidecarParent(p, p.statsVersion)).filter(_ > 0L)
      .flatMap(readStatsMeta(fs, rootPath, _))
    val parentCols = parentMeta.map(_.cols).getOrElse(Nil)
    val cols = if (statsCols.nonEmpty) statsCols else parentCols
    if (cols.isEmpty) return
    val sameLineage = parentMeta.isDefined && cols == parentCols
    val live = manifestFiles.toSet
    // carry parent shards BY REFERENCE, dropping fully-dead ones (the
    // bloom sidecar's exact pattern — stats entries are keyed by file)
    val parentShardKeys: Seq[(String, Seq[String])] =
      if (sameLineage)
        parentMeta.get.shards.map(sh =>
          sh -> readMetaShardHeader(fs, resolve(rootPath, sh))._2)
      else Nil
    val carriedShards = parentShardKeys.collect {
      case (sh, ks) if ks.exists(live) => sh
    }
    // one-time v1 migration of live inline entries into this shard
    val migrated: Seq[(String, Seq[Long])] =
      if (sameLineage && parentMeta.get.inline.nonEmpty)
        parentMeta.get.inline.toSeq.filter(e => live(e._1))
      else Nil
    val covered: Set[String] = parentShardKeys
      .filter { case (sh, _) => carriedShards.contains(sh) }
      .flatMap(_._2).toSet ++ migrated.map(_._1)
    val missing = manifestFiles.filterNot(covered)
    val computed: Map[String, Seq[Long]] =
      if (missing.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{col, count, lit, min, max}
        val byPath = missing.map { f =>
          fs.makeQualified(resolve(rootPath, f)).toUri.getPath -> f
        }.toMap
        val scan = dataScan(spark, rootPath, missing, None)
        // the sidecar is a LONG vector: integral columns long-cast
        // (lossless, order-preserving), STRING columns store their
        // order-preserving 8-byte-prefix key (probers translate
        // string bounds/equalities into the same key space). Any
        // other type can't fill it (and under ANSI a blind cast
        // THROWS on malformed input, which would fail the whole
        // commit) — substitute null so the affected files simply get
        // no entry and are never pruned
        val aggs = count(lit(1)) +: cols.flatMap { c =>
          val dt = scan.schema.fields.find(_.name == c).map(_.dataType)
          val v =
            if (dt.exists(integralType)) col(c).cast("long")
            else if (dt.exists(stringType)) prefixKeyCol(col(c))
            else lit(null).cast("long")
          Seq(min(v), max(v))
        }
        scan
          .groupBy(col("_metadata.file_path").as("__fp"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().flatMap { r =>
            val vals = (1 until r.length).map(i =>
              if (r.isNullAt(i)) null else java.lang.Long.valueOf(r.getLong(i)))
            // any null min/max (all-null or non-integral column in this
            // file) -> no entry; the file is simply never pruned
            if (vals.contains(null)) None
            else byPath.get(new Path(r.getString(0)).toUri.getPath)
              .map(_ -> vals.map(_.longValue()).toSeq)
          }.toMap
      }
    val newEntries = (migrated ++ computed.toSeq).sortBy(_._1)
    val words = 1 + 2 * cols.size
    val shards = carriedShards ++
      (if (newEntries.nonEmpty)
        Seq(writeMetaShard(fs, rootPath, "stats", words, newEntries))
      else Nil)
    val body = s"""{"version": $v, "cols": [""" +
      cols.map("\"" + _ + "\"").mkString(", ") +
      s"""], "words": $words, "shards": [""" + "\n" +
      shards.map("\"" + _ + "\"").mkString(",\n") + "\n]}"
    writeFile(fs, statsPath(rootPath, v), body)
  }

  /** The snapshot's data files that can possibly satisfy `bounds`
    * (col → inclusive [lo, hi]) AND `equalities` (col → exact value),
    * plus the snapshot's total file count. A file survives unless some
    * bounded column's min/max interval is provably disjoint, or some
    * equality's bloom filter provably excludes the value; files or
    * columns without metadata always survive. Equalities also apply as
    * degenerate [v, v] bounds, so a column carrying BOTH stats and a
    * bloom prunes by whichever is tighter. Absolute paths, ready for a
    * parquet scan; tombstones are not data, so a caller composing its
    * own scan over them applies [[applyDeleteVectors]] on top. */
  def prunedFiles(root: String, bounds: Map[String, (Long, Long)],
                  version: Long = 0L,
                  equalities: Map[String, Long] = Map.empty,
                  stringEqualities: Map[String, String] = Map.empty)
      : (Seq[String], Long) = {
    val s = snapshot(root, version)
    (admitFacade(s, bounds, equalities, stringEqualities)
      .map(s.path(_).toString), s.dataFiles.size.toLong)
  }

  /** The data files (manifest entries) of snapshot `s` that its
    * sidecars admit, with the probes already in sidecar key spaces —
    * how `graft.sources.GraftDataSource` turns Catalyst filters into
    * file skipping. `bounds` and `equalitySets` are STATS-space longs
    * (integral raw values or string prefix keys), `hashEqualitySets`
    * BLOOM-space hashes ([[hashKeyOf]]); missing sidecars/columns
    * admit. Probe names are LOGICAL unless `physicalKeys` (the file
    * index's filters push through the mapping projection into
    * physical attributes). */
  private[graft] def admit(s: Snapshot,
      bounds: Map[String, (Long, Long)],
      equalitySets: Map[String, Seq[Long]],
      hashEqualitySets: Map[String, Seq[Long]],
      physicalKeys: Boolean = false): Seq[String] = {
    val ddl = if (physicalKeys) None else s.ddl
    admittedFiles(s.fs, s.rootPath, s.version, s.dataFiles,
      physProbeKeys(ddl, bounds), physProbeKeys(ddl, equalitySets),
      physProbeKeys(ddl, hashEqualitySets))
  }

  /** [[admit]] for the facade's raw probes. A string equality probes
    * BOTH sidecars in their own key spaces: the stats interval as a
    * degenerate prefix-key bound, the bloom as the full-value hash
    * (prefixes of URL tables collide; the hash discriminates). */
  private def admitFacade(s: Snapshot, bounds: Map[String, (Long, Long)],
                          equalities: Map[String, Long],
                          stringEqualities: Map[String, String])
      : Seq[String] =
    admit(s,
      bounds ++ stringEqualities.map { case (c, v) =>
        val pk = prefixKeyOf(v); c -> (pk, pk) },
      equalities.map { case (c, v) => c -> Seq(v) },
      stringEqualities.map { case (c, v) => c -> Seq(hashKeyOf(v)) })

  /** Core of file-level skipping over ROOT-RELATIVE manifest entries:
    * the subset of `files` that can possibly satisfy `bounds` AND, per
    * column of `equalitySets`, contain at least ONE of the listed
    * values (the bloom test a point lookup needs with a single value,
    * and the safe per-column relaxation a MERGE key-set needs — a file
    * can hold a matching row only if every key column's bloom admits
    * some update value). Missing sidecars/entries/columns admit.
    *
    * Two probe value spaces, matching what the sidecars store per
    * column type: `bounds`/`equalitySets` are STATS-space longs
    * (integral raw values; string prefix keys go through `bounds`
    * only), and `hashEqualitySets` carries BLOOM-space keys for
    * string columns ([[hashKeyOf]] values) — probed against blooms
    * but NEVER folded into interval bounds, because a hash is not
    * order-preserving and the stats vector for that column holds
    * prefix keys, a different space. */
  private def admittedFiles(fs: FileSystem, rootPath: Path, v: Long,
                            files: Seq[String],
                            bounds: Map[String, (Long, Long)],
                            equalitySets: Map[String, Seq[Long]],
                            hashEqualitySets: Map[String, Seq[Long]] =
                              Map.empty)
      : Seq[String] = {
    val (cols, stats) = readStatsSidecar(fs, rootPath, v)
    val idx = cols.zipWithIndex.toMap
    val allBounds = bounds ++ equalitySets.collect {
      case (c, vs) if vs.nonEmpty => c -> (vs.min, vs.max)
    }
    // path-level partition pruning first: judged from the manifest
    // entry strings alone, before a single sidecar byte is read
    val partAdmitted = files.filter(f =>
      partitionAdmits(f, bounds, equalitySets, hashEqualitySets))
    // stats pass next: cheap interval tests over the already-parsed
    // sidecar narrow the survivor set before any bloom bits are read
    val statsAdmitted = partAdmitted.filter { f =>
      stats.get(f).forall { s =>
        allBounds.forall { case (c, (lo, hi)) =>
          idx.get(c).forall { i =>
            // entry layout: [rows, min0, max0, min1, max1, …]
            s(1 + 2 * i) <= hi && s(2 + 2 * i) >= lo
          }
        }
      }
    }
    // bloom probes: integral equality values probe as themselves;
    // string equalities arrive pre-hashed in hashEqualitySets (the
    // writer's bloom for a string column indexes hashKeyCol values)
    val bloomProbes = equalitySets ++ hashEqualitySets
    val bloomMeta = readBloomMeta(fs, rootPath, v)
    val probeCols = bloomMeta.map(m =>
      bloomProbes.keySet.filter(m.cols.contains))
      .getOrElse(Set.empty[String])
    if (probeCols.isEmpty || statsAdmitted.isEmpty ||
        bloomProbes.forall(_._2.isEmpty)) statsAdmitted
    else {
      // bloom pass: load ONLY the stats-survivors' bit arrays (seeked
      // out of the immutable shards), probe each equality value
      val meta = bloomMeta.get
      val needed = statsAdmitted.flatMap(f =>
        probeCols.map(c => s"$c|$f")).toSet
      val blooms = bloomEntriesFor(fs, rootPath, meta, needed)
      statsAdmitted.filter { f =>
        bloomProbes.forall { case (c, values) =>
          !probeCols(c) || values.isEmpty ||
            blooms.get(s"$c|$f").forall { words =>
              values.exists { value =>
                bloomBitsOf(value, words.size * 64).forall { pos =>
                  (words(pos / 64) & (1L << (pos % 64))) != 0L
                }
              }
            }
        }
      }
    }
  }

  /** Backfill (or re-key) the data-skipping sidecars of an EXISTING
    * table — Delta's ANALYZE / CREATE BLOOMFILTER INDEX role: a table
    * committed without statsCols/bloomCols gets file skipping
    * retroactively, with NO new table version (sidecars are optional
    * metadata published beside the current manifest; a concurrent
    * reader mid-backfill simply prunes nothing yet). Every later
    * commit maintains the new sidecars incrementally (columns inherit
    * through the sidecar lineage). Passing different columns than an
    * existing sidecar re-keys it (full recompute of the current
    * snapshot's entries; untouched history keeps its old sidecars).
    * Cost: one column-pruned scan of the snapshot per sidecar kind —
    * the price any index build pays once. */
  def indexSkipping(spark: SparkSession, root: String,
                    statsCols: Seq[String] = Nil,
                    bloomCols: Seq[String] = Nil,
                    bloomBits: Int = 65536): Unit = {
    val s = rewriteParent(root)
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "indexSkipping needs statsCols and/or bloomCols")
    if (statsCols.nonEmpty)
      maintainStats(spark, s, s.version, s.dataFiles, statsCols)
    if (bloomCols.nonEmpty)
      maintainBlooms(spark, s, s.version, s.dataFiles, bloomCols, bloomBits)
  }

  /** Time-based retention vacuum (Delta's `VACUUM ... RETAIN n HOURS`
    * shape): retire history whose manifests published before
    * `olderThanMs` ago, keeping every version published inside the
    * retention window — and always the latest. Returns (files
    * deleted, bytes reclaimed) like [[vacuum]]; same set arithmetic,
    * grace window and dry-run semantics. */
  def vacuumOlderThan(root: String, olderThanMs: Long,
                      orphanGraceMs: Long = 0L,
                      dryRun: Boolean = false): (Long, Long) = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val keepFrom = versionAtOrAfter(root, cutoff)
      .getOrElse(latestVersion(root))
    vacuum(root, keepFrom, orphanGraceMs, dryRun)
  }

  /** [[readChangeFeed]] anchored at a wall-clock instant: every
    * row-level change committed AFTER `tsMillis` (the version current
    * at the instant is the exclusive lower bound; an instant before
    * the first commit feeds from table birth). The timestamp twin of
    * time travel, for consumers that think in checkpointed clocks
    * rather than version numbers. */
  def readChangeFeedSince(spark: SparkSession, root: String,
                          tsMillis: Long): DataFrame = {
    // ONE listing: the anchor's publication times and the latest
    // snapshot both come from it
    val (fs, rootPath) = fsRoot(root)
    val listing = rootListing(fs, rootPath)
    val from =
      try versionIn(timesOf(listing), root, tsMillis)
      catch { case _: IllegalArgumentException => 0L }
    val snap = snapshotIn(root, fs, rootPath,
      listing.map(_.getPath.getName), 0L, None)
    require(snap.version > 0L, s"no committed version 0 at $root")
    changeFeedOf(spark, snap, from, emptyOk = false)
  }

  /** The change feed over (`fromVersion`, `snap.version`] from `snap`,
    * resolved by the caller. An anchor at or after `snap` is the
    * steady-state "any changes since my last poll?": an EMPTY feed, not
    * an error. */
  private[graft] def changeFeedOf(spark: SparkSession, snap: Snapshot,
                                  fromVersion: Long,
                                  emptyOk: Boolean): DataFrame =
    if (fromVersion >= snap.version) emptyFeedFrame(spark, snap)
    else changeFeed(spark, snap, fromVersion, emptyOk)

  /** A zero-row frame with the change feed's exact shape (`s`'s table
    * columns + `_change_type` + `_commit_version`) — what a feed over
    * a changeless range returns when the caller asked for tolerance. */
  private[graft] def emptyFeedFrame(spark: SparkSession,
                                    s: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.lit
    scanAdmitted(spark, s, s.dataFiles).limit(0)
      .withColumn("_change_type", lit("none"))
      .withColumn("_commit_version", lit(0L))
  }

  /** COUNT(*) of the snapshot from METADATA alone (the stats sidecar's
    * per-file row counts) — no scan, no job; None when any file of the
    * version lacks a stats entry (caller falls back to
    * `read(...).count()`). The Delta-style metadata-only aggregate:
    * at 100 TB a row count is a manifest read, not a table pass. */
  def metadataCount(root: String, version: Long = 0L): Option[Long] =
    metadataCount(snapshot(root, version))

  private[graft] def metadataCount(s: Snapshot): Option[Long] = {
    val (_, stats) = readStatsSidecar(s.fs, s.rootPath, s.version)
    val counts = s.dataFiles.map(stats.get(_).map(_.head))
    if (counts.exists(_.isEmpty)) None
    // tombstones are unique (file, idx) pairs by construction, so the
    // dv files' row count IS the number of deleted live rows
    else Some(counts.flatten.sum -
      footerRowCount(s.fs, s.rootPath, s.dvFiles))
  }

  /** Rows in the parquet `files` (manifest entries), summed from their
    * FOOTERS: metadata-only, one driver-side footer read per file and
    * no Spark job. Serves the tombstone count of [[metadataCount]] and
    * the "did this stage write anything" check of [[stageRows]]. */
  private def footerRowCount(fs: FileSystem, rootPath: Path,
                             files: Seq[String]): Long =
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(resolve(rootPath, f), fs.getConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum

  /** (version, publication time) of every RETAINED manifest,
    * ascending, from ONE root listing: publication time is the manifest
    * file's own modification time (the atomic visibility event IS the
    * timestamp). Versions a vacuum retired are simply absent. */
  private def manifestTimes(root: String): Seq[(Long, Long)] = {
    val (fs, rootPath) = fsRoot(root)
    timesOf(rootListing(fs, rootPath))
  }

  /** [[manifestTimes]] of one root `listing`. */
  private def timesOf(listing: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[(Long, Long)] =
    listing.flatMap { st =>
      versionsOf(Seq(st.getPath.getName), "manifest")
        .map(_ -> st.getModificationTime)
    }.sortBy(_._1)

  /** Highest version whose manifest was PUBLISHED at or before
    * `tsMillis` (epoch millis) — timestamp time travel (Delta's
    * `timestampAsOf`). Fails loudly when the earliest retained commit
    * is after `tsMillis` (before the first commit, or in history a
    * vacuum retired). */
  def versionAt(root: String, tsMillis: Long): Long =
    versionIn(manifestTimes(root), root, tsMillis)

  /** [[versionAt]] over the (version, publication time) `times`. */
  private def versionIn(times: Seq[(Long, Long)], root: String,
                        tsMillis: Long): Long = {
    require(times.nonEmpty, s"no committed version at $root")
    times.reverseIterator.collectFirst { case (v, t) if t <= tsMillis => v }
      .getOrElse(throw new IllegalArgumentException(
        s"no retained version of $root existed at $tsMillis (the " +
          s"earliest retained commit, v${times.head._1}, is newer)"))
  }

  /** Earliest version whose manifest was published AT or after
    * `tsMillis`, or None when every commit predates the instant —
    * Delta's `startingTimestamp` boundary (at-or-after, so a commit
    * published exactly at the instant is INCLUDED). Vacuumed versions
    * are absent; manifest mtimes are nondecreasing in version by the
    * publish protocol, so the first hit is the answer. */
  def versionAtOrAfter(root: String, tsMillis: Long): Option[Long] =
    manifestTimes(root).collectFirst { case (v, t) if t >= tsMillis => v }

  /** Read the snapshot as of a wall-clock instant. */
  def readAsOf(spark: SparkSession, root: String,
               tsMillis: Long): DataFrame =
    read(spark, root, versionAt(root, tsMillis))

  /** Read the snapshot at `version` planning ONLY the files that can
    * satisfy `bounds` — file-level data skipping. The caller still
    * applies its real predicate (bounds prune FILES; the filter prunes
    * rows and parquet row groups); any predicate at least as strict as
    * `bounds` reads identical results to a full [[read]]. */
  def readPruned(spark: SparkSession, root: String,
                 bounds: Map[String, (Long, Long)],
                 version: Long = 0L,
                 equalities: Map[String, Long] = Map.empty,
                 stringEqualities: Map[String, String] = Map.empty)
      : DataFrame = {
    val s = snapshot(root, version)
    val kept = admitFacade(s, bounds, equalities, stringEqualities)
    require(kept.nonEmpty,
      // an empty parquet scan needs a schema; give the caller a crisp
      // signal instead of an analysis error
      s"every file of $root was pruned by $bounds/$equalities/" +
        s"$stringEqualities - the result is empty; guard with " +
        "prunedFiles if an empty match is expected, or use readSkipped")
    scanAdmitted(spark, s, kept)
  }

  /** THE read path: every read of a versioned table — full, pruned,
    * probed, a stream's snapshot slice — is this one body over one
    * [[Snapshot]]: FastScan of the admitted `kept` entries under the
    * snapshot's one schema, then the snapshot's tombstones as an
    * anti-join (while the scan still owns its `_metadata`), then the
    * projection to its schema-DDL state's logical names. Nothing here
    * re-reads store metadata, so a read cannot mix one version's files
    * with another's tombstones or DDL state, and no hand-built scan can
    * forget the tombstones (the facade's r12 DV-resurrection bug).
    * Kept files in, live rows out; an empty `kept` is an empty frame
    * with the full read's columns, and a zero-file version (a delete
    * that removed every row) the typed empty frame of record. */
  private[graft] def scanAdmitted(spark: SparkSession, s: Snapshot,
                                  kept: Seq[String]): DataFrame =
    if (s.dataFiles.isEmpty) emptyTyped(spark, s)
    else {
      val scan = FastScan.parquet(spark, s.rootPath,
        FastScan.statusesOf(s.fs, kept.map(s.path)), s.schema(spark))
      val live =
        if (kept.isEmpty) scan.limit(0)
        else applyDeleteVectors(spark, s, scan)
      s.ddl.fold(live)(toLogicalFrame(live, _))
    }

  /** [[readPruned]] that tolerates a fully-pruned admission: returns
    * an EMPTY frame with the table's schema instead of raising — the
    * facade's point-lookup/range-scan contract (a miss is an empty
    * result, not an error). */
  def readSkipped(spark: SparkSession, root: String,
                  bounds: Map[String, (Long, Long)],
                  version: Long = 0L,
                  equalities: Map[String, Long] = Map.empty,
                  stringEqualities: Map[String, String] = Map.empty)
      : DataFrame = {
    val s = snapshot(root, version)
    scanAdmitted(spark, s,
      admitFacade(s, bounds, equalities, stringEqualities))
  }

  /** [[readSkipped]] over probes already in the [[admit]] key spaces —
    * the scan `graft.sources.GraftDataSource`'s deletion-vector
    * relation composes over the snapshot it resolved. */
  private[graft] def readProbed(spark: SparkSession, s: Snapshot,
      bounds: Map[String, (Long, Long)],
      equalitySets: Map[String, Seq[Long]],
      hashEqualitySets: Map[String, Seq[Long]]): DataFrame =
    scanAdmitted(spark, s, admit(s, bounds, equalitySets, hashEqualitySets))

  /** Apply the table's deletion vectors (if any) to `df`, a scan the
    * caller composed over this table's data files (e.g. from
    * [[prunedFiles]]). A no-op — and zero plan overhead — when the
    * version carries no tombstones. */
  def applyDeleteVectors(spark: SparkSession, root: String,
                         df: DataFrame, version: Long = 0L): DataFrame =
    applyDeleteVectors(spark, snapshot(root, version), df)

  private[graft] def applyDeleteVectors(spark: SparkSession, s: Snapshot,
                                        df: DataFrame): DataFrame =
    applyDv(spark, s.fs, s.rootPath, df, s.dvFiles)

  /** Row-level DELETE as a MERGE-ON-READ commit (Delta's deletion
    * vectors / Iceberg's positional deletes): rows matching
    * `predicate` are tombstoned by (file, row index) in a parquet
    * sidecar under `dv/<uuid>/` — zero data bytes rewritten, the new
    * manifest lists the same data files plus the tombstones, and every
    * read path applies them as a broadcast anti-join. THE delete
    * economics at 100 TB: a ten-row GDPR delete costs kilobytes, not
    * the gigabyte copy-on-write rewrite [[commitDelete]] pays.
    * Candidate files still prune via the predicate's own literal
    * conjuncts, so the tombstone SCAN tracks the selection too.
    * Already-tombstoned rows never re-tombstone (the matching scan
    * reads the live view). A predicate matching nothing is a metadata
    * no-op. Same optimistic conflict detection and parent snapshot
    * ([[rewriteParent]]) as every rewrite;
    * tombstones accumulate until [[commitPurgeDeleteVectors]] folds
    * them into rewritten files (required before copy-on-write ops). */
  def commitDeleteVectors(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val s = rewriteParent(root)
    if (s.dataFiles.isEmpty) return s.version // already empty: no-op
    // prune the tombstone scan exactly like copy-on-write DELETE
    val (candidates, _) = prunePredicate(spark, s, predicate)
    if (candidates.isEmpty) return s.version
    val tombstones = liveKeyed(spark, s, candidates, "DV delete")
      .filter(coalesce(predicate, lit(false)))
      .select(col("__dv_file"), col("__dv_idx"))
    // stage under dv/<uuid>/ — invisible until the manifest publishes.
    // ONE file per commit (repartition, not coalesce: a coalesce would
    // collapse the matching SCAN's parallelism too; the shuffle moves
    // only deleted-rows-sized tombstones): a wide scan would otherwise
    // emit a near-empty tombstone file per scan task, and at 100×
    // commit rates file count IS manifest + footer-open cost. A delete
    // too large for one writer task belongs in copy-on-write
    // commitDelete anyway — its economics beat tombstones there.
    val staged = stageRows(s.fs, s.rootPath, "dv", tombstones.repartition(1))
    // nothing matched: metadata no-op
    if (staged.isEmpty) return s.version
    // data files unchanged: sidecar entries carry fully, O(1) jobs
    publish(spark, s, s.entries ++ staged, "dv-delete", Rewrite)
  }

  /** Scan of `s`'s data `files` keyed by tombstone key
    * (`__dv_file`, `__dv_idx`) and projected LOGICAL with the keys
    * carried through, minus the rows `s` already tombstoned — the live
    * rows a deletion-vector commit may tombstone, so a row is never
    * tombstoned twice. The key is taken on the scan relation itself,
    * the only place `_metadata` resolves. */
  private def liveKeyed(spark: SparkSession, s: Snapshot,
                        files: Seq[String], op: String): DataFrame = {
    val scan = dataScan(spark, s.rootPath, files, s.ddl)
    requireNoDvKeyColumns(scan.schema, s.root, op)
    val keyed = withDvKey(scan)
    val live =
      if (s.dvFiles.isEmpty) keyed
      else keyed.join(org.apache.spark.sql.functions.broadcast(
          dataScan(spark, s.rootPath, s.dvFiles, None)),
        Seq("__dv_file", "__dv_idx"), "left_anti")
    toLogical(s, live, extra = Seq("__dv_file", "__dv_idx"))
  }

  /** DESCRIBE HISTORY: one row per retained commit, newest first —
    * (version, published_at epoch-millis, operation, n_entries,
    * n_data_files, n_dv_files, txn). `operation` reads the audit stamp
    * commits carry since round 12 ("append", "merge", "dv-delete",
    * "zorder-compact", …); older manifests show "unknown". Vacuumed
    * versions are simply absent. Manifest-sized and driver-side like
    * every metadata op here; the result is a small local DataFrame for
    * joining/filtering, not a scan. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val (fs, rootPath) = fsRoot(root)
    val rows = manifestTimes(root).reverse.flatMap { case (v, mtime) =>
      try {
        val (header, entries) = readManifest(fs, rootPath, v)
        val (data, dv) = splitEntries(entries)
        // dv_bytes = accumulated tombstone parquet bytes at this
        // version — the purge-pressure gauge: once it crosses the
        // applyDv broadcast cap, reads degrade to a shuffled
        // anti-join until commitPurgeDeleteVectors folds them in.
        // -1 = unknown (a dv file swept mid-vacuum must not make the
        // whole audit row vanish through the outer FNF catch)
        val dvb =
          try dvFileBytes(fs, rootPath, dv)
          catch { case _: java.io.FileNotFoundException => -1L }
        Some((v, mtime, headerField(header, "op").getOrElse("unknown"),
          entries.size.toLong, data.size.toLong, dv.size.toLong,
          dvb, headerField(header, "txn").getOrElse(null: String)))
      } catch { // vacuumed after the listing saw it
        case _: java.io.FileNotFoundException => None
      }
    }
    rows.toDF("version", "published_at", "operation", "n_entries",
      "n_data_files", "n_dv_files", "dv_bytes", "txn")
  }

  /** Does the snapshot at `version` (latest when 0) carry live
    * deletion-vector tombstones? Manifest-sized, driver-side. */
  def hasDeleteVectors(root: String, version: Long = 0L): Boolean =
    snapshot(root, version).dvFiles.nonEmpty

  /** Do two committed versions list the IDENTICAL file set? (0 = the
    * empty pre-birth table.) The metadata-only emptiness check a
    * change-feed consumer needs: a range whose endpoints share one
    * manifest (e.g. a RESTORE rolled the table back to exactly the
    * consumed state) carries no changes. */
  def sameEntries(root: String, a: Long, b: Long): Boolean = {
    val (fs, rootPath) = fsRoot(root)
    // cdc sidecars are per-version CHANGE RECORDS, not table state:
    // two versions with identical data+dv files are the same snapshot
    // even if one carried a cdc record the other dropped. The
    // streaming CDF path passes its consumed offset as `a`: a vacuumed
    // manifest is the range reader's re-seed error.
    def at(v: Long): Set[String] =
      rangeManifest(fs, rootPath, root, a, b)(v)._2
        .filterNot(isCdcEntry).toSet
    at(a) == at(b)
  }

  /** Rewrite ops that change the table's FILE LIST but provably no
    * live row — the change feed crosses them as zero changes instead
    * of failing: compaction/z-order are permutation-identical by
    * construction, and a DV purge only materializes deletes the feed
    * already reported at their dv commits. */
  private val RowNeutralOps = Set("compact", "zorder-compact", "dv-purge")

  /** Stage `changes` (table columns + `_change_type`) as a
    * `cdc/<uuid>/` sidecar; returns the staged root-relative entries,
    * or Nil when no row changed (the empty stage is deleted). Invisible
    * until the caller's manifest publishes, like every stage here. */
  private def stageCdc(fs: FileSystem, rootPath: Path,
                       changes: DataFrame,
                       ddl: Option[SchemaDdl] = None)
      : Seq[String] =
    // cdc sidecars live in the same PHYSICAL column space as data
    // files (the feed projects to logical at read); `_change_type`
    // is outside the mapping and passes through unrenamed
    stageRows(fs, rootPath, "cdc",
      ddl.map(toPhysicalFrame(changes, _)).getOrElse(changes))

  /** Write `rows` as parquet under `<kind>/<uuid>/` and return the
    * staged root-relative entries, or Nil when no row was written: the
    * empty stage directory is deleted, so a no-op commit leaves nothing
    * behind. The emptiness check reads the staged footers' row counts
    * ([[footerRowCount]]), no Spark job. */
  private def stageRows(fs: FileSystem, rootPath: Path, kind: String,
                        rows: DataFrame): Seq[String] = {
    val uuid = java.util.UUID.randomUUID().toString
    val dir = new Path(new Path(rootPath, kind), uuid)
    rows.write.parquet(dir.toString)
    val staged = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.endsWith(".parquet") => s"$kind/$uuid/$n" }
      .sorted
    if (footerRowCount(fs, rootPath, staged) > 0) staged
    else { fs.delete(dir, true); Nil }
  }

  /** CHANGE DATA FEED (Delta's table_changes / CDF): every row-level
    * change between `fromVersion` (exclusive; 0 = since table birth)
    * and `toVersion` (inclusive; 0 = latest), stamped with
    * `_change_type` ('insert' | 'delete') and `_commit_version`.
    * Derivation, per version:
    *   - a commit that staged a `cdc/` sidecar ([[commitMerge]]/
    *     [[commitDelete]] with cdc=true) IS its own change record —
    *     its exact stamped rows are read back and its file delta is
    *     ignored (rewritten files carry both changed and
    *     merely-recopied rows);
    *   - otherwise, added DATA files are that commit's inserts (files
    *     are immutable, so each row's insert version is exact), and
    *     added DELETION-VECTOR files are its deletes — the tombstones
    *     join back to ONLY the data files they reference
    *     (deleted-rows-sized scan), materializing the deleted rows
    *     with full schema;
    *   - provably row-neutral rewrites (compact / zorder-compact /
    *     dv-purge) cross the feed as zero changes;
    *   - any OTHER commit that removed files (overwrite, cdc-less
    *     merge/delete, restore) fails loudly: its file delta cannot
    *     distinguish rewritten-identical rows from changed ones, so a
    *     feed over it would fabricate changes.
    * A downstream incremental consumer gets exactly-once row changes
    * whose cost tracks the delta, never the table. The metadata cost
    * is one walk: ONE root listing (`toVersion`'s [[snapshot]], which
    * also fixes the schema-DDL state every feed scan reads with) and
    * ONE open per manifest of the range — `fromVersion`'s (none at 0)
    * through `toVersion`'s, each step carrying the previous version's
    * entries. A vacuumed manifest inside the range is the re-seed
    * error. */
  def readChangeFeed(spark: SparkSession, root: String,
                     fromVersion: Long, toVersion: Long = 0L,
                     emptyOk: Boolean = false)
      : DataFrame =
    // ONE resolution: `to`'s snapshot (one listing, one open) carries
    // its manifest and the schema-DDL state every feed scan reads with
    changeFeed(spark, snapshot(root, toVersion), fromVersion, emptyOk)

  /** [[readChangeFeed]] up to the resolved `snap`. */
  private def changeFeed(spark: SparkSession, snap: Snapshot,
                         fromVersion: Long, emptyOk: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val (root, fs, rootPath, to) =
      (snap.root, snap.fs, snap.rootPath, snap.version)
    require(fromVersion >= 0 && to > fromVersion,
      s"need committed versions $fromVersion < $to at $root " +
        "(fromVersion 0 = since table birth)")
    val manifestAt = rangeManifest(fs, rootPath, root, fromVersion, to) _
    // ---- metadata walk (driver, manifest-sized): classify every
    // version and collect its contributing files. Validation (vacuumed
    // gaps, cdc-less rewrites) happens HERE, per version; only the
    // frame construction below is collapsed. Each step carries the
    // previous version's entries, so every manifest opens once.
    case class Delta(v: Long, addedData: Seq[String],
                     addedDv: Seq[String], addedCdc: Seq[String],
                     curData: Seq[String])
    val manifests = (fromVersion to to).iterator.map { v =>
      v -> (if (v == to) (snap.header, snap.entries) else manifestAt(v))
    }
    val deltas = manifests.sliding(2).flatMap {
      case Seq((_, (_, before)), (v, (header, cur))) =>
        val prev = before.toSet
        val added = cur.filterNot(prev)
        val addedCdc = added.filter(isCdcEntry)
        // a commit that staged a CDC sidecar IS its own change record:
        // its exact stamped rows are read back and its file delta is
        // ignored — the rewritten data files carry both changed and
        // merely-recopied rows
        if (addedCdc.nonEmpty) Some(Delta(v, Nil, Nil, addedCdc, Nil))
        else {
          val removed = (prev -- cur).filterNot(isCdcEntry)
          if (removed.nonEmpty) {
            // rewrites that provably change no live row (compaction,
            // z-order, dv purge) cross the feed as zero changes; every
            // other rewrite without a CDC sidecar stays a loud failure
            val op = headerField(header, "op").getOrElse("unknown")
            if (RowNeutralOps(op)) None
            else throw new IllegalArgumentException(
              s"version $v of $root removed ${removed.size} file(s) " +
                s"(op '$op': overwrite/merge/copy-on-write delete/" +
                "restore): its file delta cannot yield exact row " +
                "changes - commit rewrites with cdc=true (commitMerge/" +
                "commitDelete) to keep the feed derivable, or re-read " +
                "the snapshot")
          } else {
            val (addedData, addedDv) = splitEntries(added)
            Some(Delta(v, addedData, addedDv, Nil, splitEntries(cur)._1))
          }
        }
    }.toVector
    // ---- frame construction: O(1) scans regardless of version count.
    // A month of appends is ONE parquet scan stamped by a broadcast
    // (file → version) map join, not a 10,000-way union whose analysis
    // alone would dwarf the read; deletes join once against the union
    // of referenced files (tombstone keys are globally unique — a row
    // tombstones in exactly one version); cdc records are a third
    // stamped scan. Data files are immutable, so reading a file
    // through any later manifest yields its commit-time rows.
    def relKey(f: String): String = resolve(rootPath, f).toUri.getPath
      .split('/').takeRight(3).mkString("/")
    def stampVersion(files: Seq[(String, Long)],
                     df: DataFrame): DataFrame = {
      import spark.implicits._
      val vmap = files.map { case (f, v) => relKey(f) -> v }
        .toDF("__cf", "_commit_version")
      df.withColumn("__cf",
          org.apache.spark.sql.functions.substring_index(
            col("_metadata.file_path"), "/", -3))
        .join(broadcast(vmap), "__cf").drop("__cf")
    }
    // schema-DDL tables read every feed scan with ONE explicit
    // physical schema (uniform frames across inserts/deletes/cdc even
    // when files span an add-column boundary), then project logical
    val feedDdl = snap.ddl
    def scanOf(files: Seq[(String, Long)]): DataFrame = feedDdl match {
      case Some(s) => FastScan.parquetPaths(spark, fs, rootPath,
        files.map(f => resolve(rootPath, f._1).toString),
        Some(s.physicalReadSchema))
      case None =>
        // mergeSchema: a schema-evolution append inside the range
        // surfaces late columns with nulls for pre-evolution rows
        // instead of failing a per-version union (or silently dropping
        // them off a single-footer inference)
        spark.read.option("mergeSchema", "true")
          .parquet(files.map(f => resolve(rootPath, f._1).toString): _*)
    }
    val insertFiles = deltas.flatMap(d => d.addedData.map(_ -> d.v))
    val inserts =
      if (insertFiles.isEmpty) Nil
      else Seq(stampVersion(insertFiles, scanOf(insertFiles))
        .withColumn("_change_type", lit("insert")))
    val cdcFiles = deltas.flatMap(d => d.addedCdc.map(_ -> d.v))
    val cdcRows =
      if (cdcFiles.isEmpty) Nil
      else {
        // cdc sidecars carry `_change_type` INSIDE the file — a
        // schema-DDL read must ask for it alongside the physical cols
        val cdcScan = feedDdl match {
          case Some(s) => FastScan.parquetPaths(spark, fs, rootPath,
            cdcFiles.map(f => resolve(rootPath, f._1).toString),
            Some(org.apache.spark.sql.types.StructType(
              s.physicalReadSchema.fields :+
                org.apache.spark.sql.types.StructField("_change_type",
                  org.apache.spark.sql.types.StringType))))
          case None => scanOf(cdcFiles)
        }
        Seq(stampVersion(cdcFiles, cdcScan))
      }
    val dvFiles = deltas.flatMap(d => d.addedDv.map(_ -> d.v))
    val deletes =
      if (dvFiles.isEmpty) Nil
      else {
        // tombstones stamped with their commit version (their own
        // file → version map); only the referenced data files enter
        // the scan (deleted-rows-sized, never table-sized)
        val dv = stampVersion(dvFiles,
          dataScan(spark, rootPath, dvFiles.map(_._1), None))
        val touched = dv.select("__dv_file").distinct()
          .collect().map(_.getString(0)).toSet
        val files = deltas.flatMap(_.curData).distinct
          .filter(f => touched(relKey(f)))
        val keyed = withDvKey(dataScan(spark, rootPath, files, feedDdl))
        Seq(keyed.join(broadcast(dv), Seq("__dv_file", "__dv_idx"))
          .drop("__dv_file", "__dv_idx")
          .withColumn("_change_type", lit("delete")))
      }
    val frames = inserts ++ deletes ++ cdcRows
    if (frames.isEmpty && emptyOk)
      // a range holding only row-neutral rewrites carries no changes;
      // a tolerant caller (the streaming source) gets a typed empty
      // frame instead of an error it would crash-loop on
      return emptyFeedFrame(spark, snap)
    require(frames.nonEmpty,
      s"no changes between $fromVersion and $to at $root")
    val out = frames.reduce(_.unionByName(_))
    // canonical column order: table columns, then the two stamps (the
    // stream source's declared schema and every consumer rely on it)
    val logical = feedDdl.map(toLogicalFrame(out, _,
      extra = Seq("_change_type", "_commit_version"))).getOrElse(out)
    val tableCols = logical.columns
      .filterNot(c => c == "_change_type" || c == "_commit_version")
    logical.select((tableCols :+ "_change_type" :+ "_commit_version")
      .map(col).toSeq: _*)
  }

  /** MERGE-ON-READ upsert (Iceberg's MOR merge): matched rows are
    * TOMBSTONED by deletion vector and the updates append as new data
    * files — zero existing bytes rewrite, so an upsert touching 0.1%
    * of a 100 TB table's keys costs kilobytes of tombstones plus the
    * new rows, where [[commitMerge]]'s copy-on-write pays a rewrite of
    * every matched file. The read-time price is the tombstone
    * anti-join (merge-on-READ); [[commitPurgeDeleteVectors]] converts
    * back to read-optimized when tombstones accumulate. Works WITH
    * live tombstones (no purge needed — it never re-stages old rows),
    * composes with the change feed (the commit reads as exact
    * delete+insert pairs — CDC's canonical update encoding), and
    * pre-prunes its match scan with the same sidecar machinery as
    * copy-on-write merge. Same optimistic conflict detection and
    * parent snapshot ([[rewriteParent]]) as every rewrite. */
  def commitMergeOnRead(updates: DataFrame, root: String,
                        keys: Seq[String]): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    requireNoDvKeyColumns(updates.schema, root, "merge-on-read MERGE")
    val spark = updates.sparkSession
    val s = latest(root)
    if (s.version == 0L)
      return publish(spark, s, stage(updates, s), "mor-merge", Rewrite)
    import org.apache.spark.sql.functions.col
    val (candidates, _) = pruneMergeScan(updates, s, keys)
    val updKeys = updates.select(keys.map(col): _*).distinct()
    val stagedDv =
      if (candidates.isEmpty) Nil
      else {
        // match keys in LOGICAL space (updKeys speaks logical names)
        val tombstones =
          liveKeyed(spark, s, candidates, "merge-on-read MERGE")
            .join(updKeys, keys, "left_semi")
            .select(col("__dv_file"), col("__dv_idx"))
        // one tombstone file per commit (see commitDeleteVectors)
        stageRows(s.fs, s.rootPath, "dv", tombstones.repartition(1))
      }
    val stagedData = stage(updates, s, s.layout)
    publish(spark, s, s.entries ++ stagedDv ++ stagedData, "mor-merge",
      Rewrite)
  }

  /** Materialize deletion vectors (Delta's REWRITE/purge): rewrite
    * ONLY the data files that tombstones reference — minus their
    * deleted rows — and publish a manifest with no `dv/` entries;
    * untouched files ride verbatim. The table becomes copy-on-write
    * clean again (merge/delete/compact/readChanges all legal), history
    * keeps the tombstoned versions until [[vacuum]]. No-op when the
    * table has no tombstones. Plans from the parent snapshot
    * ([[rewriteParent]]; schema-DDL state as of the parent). */
  def commitPurgeDeleteVectors(spark: SparkSession,
                               root: String): Long = {
    val s = rewriteParent(root)
    if (s.dvFiles.isEmpty) return s.version
    val touchedKeys = dataScan(spark, s.rootPath, s.dvFiles, None)
      .select("__dv_file").distinct()
      .collect().map(_.getString(0)).toSet
    val (touched, untouched) = s.dataFiles.partition(f =>
      touchedKeys(new Path(s.path(f).toUri.getPath)
        .toString.split('/').takeRight(3).mkString("/")))
    // stage() takes LOGICAL frames (and maps back to physical): the
    // tombstones apply on the raw physical scan (where `_metadata`
    // resolves), then the survivors project logical
    val survivors = applyDeleteVectors(spark, s,
      dataScan(spark, s.rootPath, touched, s.ddl))
    val staged = stage(toLogical(s, survivors), s, s.layout)
    publish(spark, s, untouched ++ staged, "dv-purge", Rewrite)
  }

  /** Bin-pack COMPACTION as a copy-on-write commit: every data file of
    * the current snapshot smaller than `smallBytes` is rewritten into
    * ~`smallBytes`-sized files; every other file rides into the new
    * manifest verbatim. Contents are bit-identical by construction
    * (read → coalesce → rewrite, no row changes) — this is the OPTIMIZE
    * of lakehouse tables, the maintenance move that keeps a 100 TB
    * table's file count (and therefore manifest size, footer-open cost
    * and scheduler overhead) bounded under high-frequency small
    * appends. History is untouched: the parent version still lists the
    * small files until [[vacuum]] retires it. Stats sidecar entries
    * carry over for untouched files and recompute for the packed ones.
    * `zorderBy` turns the pack into Delta's OPTIMIZE ZORDER BY: the
    * packed rows re-cluster on the named columns' z-curve (same rows,
    * tighter recomputed stats intervals → better file skipping).
    * Returns the new version, or the current one when fewer than two
    * files qualify (nothing to pack). Conflicts RESOLVE rather than
    * fail where that is provably safe: a concurrent blind append is
    * compatible with a rewrite that changes no row, so the commit
    * recomposes on a fresh snapshot and retries; a concurrent commit
    * that removed one of the files being packed (merge/delete/another
    * compaction) still raises ConcurrentModificationException.
    * `beforePublish` is the test seam for exactly that window. Plans
    * from the parent snapshot ([[rewriteParent]]; schema-DDL state as
    * of the parent), file sizes included. */
  def commitCompact(spark: SparkSession, root: String,
                    smallBytes: Long = 64L << 20,
                    beforePublish: Long => Unit = _ => (),
                    zorderBy: Seq[String] = Nil,
                    zorderFiles: Int = 0,
                    partitionBy: Seq[String] = Nil): Long = {
    val s = rewriteParent(root)
    requireNoDv(s.dvFiles, root, "COMPACT")
    // sizes from one listStatus per commit directory
    val sized = s.dataFiles.zip(s.statuses.map(_.getLen))
    // plain compaction packs only the sub-threshold files; OPTIMIZE
    // ZORDER BY re-clusters EVERY file (Delta's semantics — clustering
    // quality is the goal, `smallBytes` is just the target file size)
    val (small, big) =
      if (zorderBy.nonEmpty) (sized, Seq.empty[(String, Long)])
      else sized.partition(_._2 < smallBytes)
    if (small.size < 2) return s.version
    val totalSmall = small.map(_._2).sum
    val nOut = math.max(1L, (totalSmall + smallBytes - 1) / smallBytes)
      .toInt
    // LOGICAL space throughout (zorderBy names, stage contract); a
    // schema-DDL state projects the physical scan up front
    val smallScan = logical(spark, s, small.map(_._1))
    // OPTIMIZE ZORDER BY (Delta's clustering compaction): instead of a
    // bit-identical coalesce, re-cluster the packed rows on the z-curve
    // of the named columns — same rows, tighter per-file stats
    // intervals, so the recomputed sidecar prunes multi-dimensional
    // boxes the append order never could. Contents are permutation-
    // identical either way; only the file layout changes.
    // the packed files' layout: the caller's explicit choice, else the
    // small files' own detected layout — OPTIMIZE must never flatten a
    // partitioned table as a side effect
    val layout =
      if (partitionBy.nonEmpty) partitionBy
      else detectPartitionBy(small.map(_._1))
    val packed =
      if (layout.nonEmpty) {
        // PARTITION-AWARE compaction: a flat rewrite of a partitioned
        // table would erase its hive-style layout (and with it every
        // later path-prune), so rows re-land under their partition
        // dirs. One hash exchange on the partition columns gives each
        // partition a single writer task — one compacted file per
        // partition per OPTIMIZE (a partition larger than the target
        // emits one larger file; Delta bin-packs within partitions,
        // this keeps the single-exchange shape). With zorderBy, rows
        // additionally sort on the z-curve WITHIN their partition, so
        // parquet row-group stats inside each partition file stay
        // multi-dimensionally tight (file-level stats are already
        // partition-tight by construction).
        import org.apache.spark.sql.functions.col
        val byPart = smallScan.repartition(nOut,
          layout.map(col): _*)
        if (zorderBy.isEmpty) byPart
        else byPart.sortWithinPartitions(
          layout.map(col) :+
            // one clustering column is a plain sort; the z-curve
            // needs >= 2 dimensions to interleave
            (if (zorderBy.size == 1) col(zorderBy.head)
             else Layout.zValueN(zorderBy.map(col))): _*)
      }
      else if (zorderBy.isEmpty) smallScan.coalesce(nOut)
      else Layout.zorderN(smallScan,
        zorderBy.map(org.apache.spark.sql.functions.col),
        // explicit file-count override: the z-curve only prunes when
        // it's cut into enough pieces for a box to exclude some
        if (zorderFiles > 0) zorderFiles else nOut)
    val packedRels = stage(packed, s, layout)
    // Compaction-specific conflict RESOLUTION (Delta's "blind appends
    // don't conflict with OPTIMIZE"): the rewrite changes no row, so a
    // concurrent commit that merely ADDED files is compatible — on a
    // version collision, recompose against the new snapshot (its files
    // minus the packed smalls plus the packed replacements) and retry,
    // as long as every rewritten small file is still listed there. A
    // concurrent commit that REMOVED one of them (merge/delete/another
    // compaction touched the same files) re-raises: retrying would
    // resurrect superseded rows.
    val smallSet = small.map(_._1).toSet
    var base = s
    var untouched = big.map(_._1)
    // bounded, matching publish's own retry budget: under SUSTAINED
    // concurrent append traffic an unbounded recompose loop would
    // livelock the compactor (re-read manifest, lose the race, repeat
    // forever); after the cap the last conflict is re-raised and the
    // caller reschedules the OPTIMIZE — the files are still small,
    // nothing is lost
    var attempts = 0
    while (true) {
      try {
        return publish(spark, base, untouched ++ packedRels,
          if (zorderBy.isEmpty) "compact" else "zorder-compact", Rewrite,
          beforePublish = beforePublish)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 20) throw e
          val fresh = rewriteParent(root)
          if (!smallSet.subsetOf(fresh.entries.toSet)) throw e
          // a racing DELETION-VECTOR commit may tombstone rows inside
          // the files being packed — recomposing would resurrect them
          if (fresh.dvFiles.nonEmpty) throw e
          base = fresh
          untouched = fresh.entries.filterNot(smallSet)
      }
    }
    -1L // unreachable: the loop returns or throws
  }

  /** ROLLBACK as a forward commit (Delta's RESTORE): publish a NEW
    * version whose manifest lists exactly the files of `toVersion` —
    * history stays linear and auditable (the bad versions remain
    * time-travelable until [[vacuum]] retires them), readers of the
    * latest snapshot see the old contents again, and the operation is
    * metadata-only: zero data bytes move. Sidecars carry/recompute
    * through the normal maintenance path (entries for the restored
    * files usually carry from the restored version's own sidecar
    * lineage). Restoring to the current version is a no-op. */
  def commitRestore(root: String, toVersion: Long): Long = {
    val s = latest(root)
    val missing = s"no committed version $toVersion at $root to restore to"
    require(toVersion >= 1 && toVersion <= s.version, missing)
    if (toVersion == s.version) return s.version
    // a restore re-publishes the old FILE LIST, not the old commit's
    // change record: carrying its cdc sidecar would make the feed
    // replay those changes at the restore version
    val files =
      try readManifest(s.fs, s.rootPath, toVersion)._2.filterNot(isCdcEntry)
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(missing) }
    publish(SparkSession.active, s, files, "restore", Rewrite)
  }

  /** SHALLOW CLONE (zero-copy fork): commit a new table at
    * `targetRoot` whose v1 manifest references the SOURCE table's data
    * files by absolute path — no bytes copied, planning metadata only.
    * The clone then evolves independently: its own appends/merges land
    * under its own root, its history never touches the source. The dev/
    * experimentation move of every lakehouse (Delta shallow clone):
    * fork a 100 TB table in milliseconds, try the migration, throw the
    * clone away. Caveat (same as Delta's): the clone borrows the
    * source's files, so a SOURCE-side vacuum that retires the
    * referenced versions breaks the clone — pin or retain the source
    * version for the clone's lifetime. The clone's own vacuum is safe:
    * borrowed absolute paths live outside `targetRoot/data` and its
    * sweep walks only its own data directory. */
  def cloneShallow(root: String, targetRoot: String,
                   version: Long = 0L): Long = {
    val s = snapshot(root, version)
    val (fs, rootPath, v) = (s.fs, s.rootPath, s.version)
    val target = latest(targetRoot)
    require(target.version == 0L,
      s"clone target $targetRoot already has commits")
    // deletion vectors clone along: the tombstone key is the file's
    // last-three-components spelling, which absolute borrowed paths
    // still produce, so the clone's reads apply them identically
    // cdc sidecars stay behind: the clone's v1 is a fresh table birth
    // (its feed derives every row as an insert), not a replay of the
    // source commit's change record
    val absolute = s.entries.filterNot(isCdcEntry)
      .map(f => fs.makeQualified(s.path(f)).toString)
    val (tfs, tRootPath) = (target.fs, target.rootPath)
    tfs.mkdirs(tRootPath)
    requireFiles(targetRoot, absolute)
    val cv = publish(SparkSession.active, target, absolute, "clone", Rewrite)
    // register the borrow on the SOURCE: clones/<uuid>.json records
    // which table borrowed this snapshot's files, so a source-side
    // vacuum can WARN before retiring versions a clone still reads
    // (the r11/r12 observability gap — the breakage used to surface
    // as a read error later instead of a dry-run warning now).
    // Best-effort metadata: a failed registration never fails the
    // clone (it is already committed), it only loses the warning.
    try writeFile(fs, new Path(clonesDir(rootPath),
      s"${java.util.UUID.randomUUID()}.json"),
      s"""{"clone_root": "${tfs.makeQualified(tRootPath)}", """ +
        s""""source_version": $v}""")
    catch { case scala.util.control.NonFatal(e) =>
      log.warn(s"clone $targetRoot committed but " +
        s"its borrow registration on $root failed ($e): source-side " +
        "vacuum warnings will not cover this clone")
    }
    cv
  }

  private def clonesDir(rootPath: Path): Path =
    new Path(rootPath, "clones")

  /** Clone roots registered against this source (by [[cloneShallow]]);
    * registrations whose clone no longer exists are skipped. */
  private def registeredClones(fs: FileSystem, rootPath: Path)
      : Seq[String] = {
    val dir = clonesDir(rootPath)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.filterNot(_.isDirectory).flatMap { st =>
      val in = fs.open(st.getPath)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
        new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      "\"clone_root\":\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(text).map(_.group(1))
    }.distinct
  }

  /** For each registered shallow clone of `root`, the borrowed source
    * files a `vacuum(keepFrom)` could reclaim — i.e. borrowed paths
    * NOT reachable from any retained source manifest. Empty map =
    * this vacuum is provably clone-safe. Clone roots that no longer
    * have commits (deleted/abandoned clones) are ignored. Driver-side
    * and manifest-sized: source retention set + each clone's manifest
    * entries. */
  def cloneBorrowsAtRisk(root: String, keepFrom: Long)
      : Map[String, Seq[String]] = {
    val (fs, rootPath) = fsRoot(root)
    val clones = registeredClones(fs, rootPath)
    if (clones.isEmpty) return Map.empty
    val latest = latestVersion(root)
    val rootPrefix = rootPath.toString + "/"
    // qualify-then-strip handles every entry spelling uniformly
    // (root-relative, bare-absolute, and the single-slash file:/ form
    // Hadoop renders for local URIs)
    def relOf(f: String): String =
      fs.makeQualified(resolve(rootPath, f)).toString
        .stripPrefix(rootPrefix)
    val keep = (math.max(1L, keepFrom) to latest).flatMap { v =>
      try readManifest(fs, rootPath, v)._2.map(relOf)
      catch { case _: java.io.FileNotFoundException => Nil }
    }.toSet
    clones.flatMap { cloneRoot =>
      val borrowed = try {
        val (cfs, cRootPath) = fsRoot(cloneRoot)
        // resolve every clone entry against the CLONE root: its own
        // (root-relative) files land under the clone and drop out of
        // the source-prefix filter; borrowed absolute entries resolve
        // to themselves and survive
        (1L to latestVersion(cloneRoot)).flatMap { cv =>
          try readManifest(cfs, cRootPath, cv)._2
          catch { case _: java.io.FileNotFoundException => Nil }
        }.distinct
          .map(f => cfs.makeQualified(resolve(cRootPath, f)).toString)
          .filter(_.startsWith(rootPrefix))
      } catch { case _: Exception => Nil }
      val atRisk = borrowed.map(_.stripPrefix(rootPrefix))
        .filterNot(keep)
      if (atRisk.isEmpty) None else Some(cloneRoot -> atRisk.toSeq)
    }.toMap
  }

  /** Garbage-collect history: retire versions < `keepFrom` and delete
    * every data file not reachable from any RETAINED manifest — which
    * also sweeps orphaned half-commits. Returns (files deleted, bytes
    * reclaimed).
    *
    * Safety is set arithmetic, not bookkeeping: the delete set is
    * (all files on disk) − (union of retained manifests' files), so a
    * file shared by a retired and a retained version survives — append
    * manifests overlap heavily, and this is why vacuum reclaims only
    * what NO retained snapshot can ever read. Both sides of the
    * comparison are ROOT-RELATIVE paths derived from the same qualified
    * root handle, so aliased spellings of the root (symlinks, //,
    * `file://` vs bare) can never empty the keep set and over-delete.
    * Retired manifest files are removed after the data sweep; reads at
    * retained versions are byte-identical before/after (VersionedSpec
    * pins it). Driver-side and manifest-sized, like every other
    * metadata op here.
    *
    * `orphanGraceMs` is the concurrent-writer guard: a file reachable
    * from NO manifest at all (a true orphan — possibly another writer's
    * staged-but-not-yet-published commit) survives unless it is at
    * least this old; files reachable only from RETIRED manifests are
    * provably dead history and always reclaim regardless of age. The
    * replay harness is single-threaded, so 0 (sweep everything) is its
    * correct default; production vacuums against live writers should
    * pass a grace comfortably above the longest staging write.
    *
    * `dryRun` reports what WOULD be reclaimed (count, bytes) without
    * deleting anything — the answer to "how much history am I about to
    * lose?" before an irreversible sweep (Delta's VACUUM DRY RUN). */
  def vacuum(root: String, keepFrom: Long,
             orphanGraceMs: Long = 0L,
             dryRun: Boolean = false): (Long, Long) = {
    val (fs, rootPath) = fsRoot(root)
    val latest = latestVersion(root)
    require(keepFrom >= 1 && keepFrom <= latest,
      s"keepFrom $keepFrom outside committed range 1..$latest")
    // clone observability: a registered shallow clone still reading
    // files this sweep could reclaim gets a LOUD warning (dry-run and
    // real alike) — the breakage otherwise surfaces as a clone read
    // error much later. The sweep itself is not blocked: the
    // source/clone retention contract is the documented Delta caveat,
    // and cloneBorrowsAtRisk is the programmatic pre-check.
    val atRisk = cloneBorrowsAtRisk(root, keepFrom)
    atRisk.foreach { case (cloneRoot, files) =>
      log.warn(
        s"vacuum($root, keepFrom=$keepFrom)" +
          (if (dryRun) " [dry-run]" else "") +
          s": shallow clone $cloneRoot borrows ${files.size} file(s) " +
          "this sweep can reclaim - the clone's reads will break; " +
          "retain the source versions or re-materialize the clone " +
          "first (cloneBorrowsAtRisk lists the files)")
    }
    val rootPrefix = rootPath.toString + "/"
    def rel(p: Path): String =
      fs.makeQualified(p).toString.stripPrefix(rootPrefix)
    def relOf(f: String): String =
      if (f.contains("://") || f.startsWith("/")) rel(new Path(f)) else f
    val keep = (keepFrom to latest).flatMap { v =>
      readManifest(fs, rootPath, v)._2.map(relOf)
    }.toSet
    // files reachable only from retired manifests are dead HISTORY
    // (always reclaimable); anything in neither set is a true orphan
    // and gets the grace window. A retired manifest may already be
    // gone (an earlier vacuum removed it) — its files then read as
    // orphans, which only DELAYS their sweep by the grace, never
    // resurrects them
    val retired = (1L until keepFrom)
      .filter(v => fs.exists(manifestPath(rootPath, v)))
      .flatMap(v => readManifest(fs, rootPath, v)._2.map(relOf))
      .toSet
    val now = System.currentTimeMillis()
    var nDel = 0L
    var bytes = 0L
    // deletion-vector sidecars follow the same set arithmetic as data
    // files: both directories sweep under one rule
    Seq("data", "dv", "cdc").map(new Path(rootPath, _)).foreach { dataDir =>
    if (fs.exists(dataDir)) {
      // recursive listStatus, NOT listFiles: located statuses force
      // permission loading, which RawLocalFileSystem implements by
      // SHELLING OUT per file (~4 ms each — 16 s for a 4k-file store);
      // the plain walk touches only path/length/isDirectory/mtime and
      // runs the same listing in ~0.2 s
      def walk(p: Path): Seq[(Path, Long, Long)] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq((st.getPath, st.getLen, st.getModificationTime))
        }
      walk(dataDir).foreach { case (p, sz, mtime) =>
        val r = rel(p)
        val sweepable = !keep.contains(r) &&
          (retired.contains(r) || now - mtime >= orphanGraceMs)
        if (sweepable && (dryRun || fs.delete(p, false))) {
          nDel += 1; bytes += sz
        }
      }
      // drop now-empty commit directories, then the retired manifests
      if (!dryRun)
        fs.listStatus(dataDir).filter(_.isDirectory)
          .filter(d => fs.listStatus(d.getPath).isEmpty)
          .foreach(d => fs.delete(d.getPath, false))
    }
    }
    // stats/bloom shards under meta/ follow the same set arithmetic as
    // data files: referenced by a retained index → keep; referenced
    // only by retired indexes → dead history, reclaim; referenced by
    // nothing → orphan (possibly a concurrent writer's staged shard),
    // grace-gated
    def shardsAt(v: Long): Seq[String] =
      readBloomMeta(fs, rootPath, v).map(_.shards).getOrElse(Nil) ++
        readStatsMeta(fs, rootPath, v).map(_.shards).getOrElse(Nil)
    val keepShards = (keepFrom to latest).flatMap(shardsAt).toSet
    val retiredShards = (1L until keepFrom).flatMap(shardsAt).toSet
    val metaDir = new Path(rootPath, "meta")
    if (fs.exists(metaDir)) {
      fs.listStatus(metaDir).filterNot(_.isDirectory).foreach { st =>
        val r = rel(st.getPath)
        val sweepable = !keepShards.contains(r) &&
          (retiredShards.contains(r) ||
            now - st.getModificationTime >= orphanGraceMs)
        if (sweepable && (dryRun || fs.delete(st.getPath, false))) {
          nDel += 1; bytes += st.getLen
        }
      }
    }
    if (!dryRun) (1L until keepFrom).foreach { v =>
      fs.delete(manifestPath(rootPath, v), false)
      fs.delete(statsPath(rootPath, v), false)
      fs.delete(bloomPath(rootPath, v), false)
    }
    (nDel, bytes)
  }
}
