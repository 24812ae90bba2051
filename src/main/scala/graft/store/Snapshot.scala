package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** One committed version of a versioned table, resolved once: the
  * store metadata every read and every commit needs, taken from ONE
  * root listing (the highest `manifest-v*`, `schemaddl-v*`,
  * `properties-v*` and `constraints-v*`, and the newest `stats-v*` and
  * `bloom-v*` at or below the version) and ONE manifest open by
  * [[Versioned.latest]] / [[Versioned.snapshot]]. Every read entry
  * point of [[Versioned]] is a projection of a snapshot, so a read can
  * never compose version v's files with v+1's tombstones or
  * schema-DDL state, however many commits land while it plans. Every
  * commit (append, overwrite, the rewrites, restore, the DDL boundary
  * commit, convert, clone) stages, publishes and maintains its
  * sidecars from the snapshot of its parent; only a lost publish race
  * resolves a second one. Published manifests and state files never
  * change: a snapshot stays exact for as long as its version is
  * retained.
  *
  * `version` 0 is the empty table before its first commit (no
  * entries). `header` is the manifest's first line (writer, txn and op
  * stamps); `entries` the manifest as written (data, deletion-vector
  * and CDC entries, root-relative or absolute). The `*Version` fields
  * are the n of the state and sidecar files the listing saw (0 =
  * none); their states are read only when asked for, so reads never
  * touch properties, constraints or sidecar indexes through them. */
private[graft] final case class Snapshot(root: String, fs: FileSystem,
    rootPath: Path, version: Long, header: String, entries: Seq[String],
    ddlVersion: Long, propertiesVersion: Long, constraintsVersion: Long,
    statsVersion: Long, bloomVersion: Long) {

  /** Scannable data files and tombstone files, in manifest order. */
  val (dataFiles, dvFiles) = Versioned.splitEntries(entries)

  /** Absolute path of a manifest entry. */
  def path(entry: String): Path = Versioned.resolve(rootPath, entry)

  /** The schema-DDL state in force AT `version` (the read rule). */
  lazy val ddl: Option[Versioned.SchemaDdl] =
    Versioned.schemaDdlAsOf(fs, rootPath, ddlVersion, version)

  /** The newest published schema-DDL state, whichever version it
    * applies from: the state a write stages under. It differs from
    * [[ddl]] only while a DDL op's boundary manifest has not landed. */
  lazy val writeDdl: Option[Versioned.SchemaDdl] =
    Versioned.schemaDdlAsOf(fs, rootPath, ddlVersion, Long.MaxValue)

  /** FileStatus of every data file, in manifest order; one listStatus
    * per commit directory. */
  lazy val statuses: Seq[FileStatus] =
    FastScan.statusesOf(fs, dataFiles.map(path))

  /** Is the change-data-feed table property on, as of the listing?
    * One small state-file read on first ask, no second listing. */
  lazy val cdfEnabled: Boolean = Versioned.cdfEnabled(
    Versioned.propertiesStateAt(fs, rootPath, propertiesVersion))

  /** The CHECK constraints every staged batch must satisfy, name → SQL
    * predicate, as of the listing. */
  lazy val constraints: Seq[(String, String)] =
    Versioned.constraintsStateAt(fs, rootPath, constraintsVersion)

  /** The partition layout every data file shares, or Nil: the layout
    * an append that names none lands under. */
  lazy val layout: Seq[String] = Versioned.detectPartitionBy(dataFiles)

  /** The one physical schema every projection scans with: the
    * schema-DDL read schema when a state applies, else the first
    * manifest data file's footer schema, read on the driver
    * ([[FastScan.footerSchema]], no Spark job). A pruned read
    * therefore returns the full read's columns whichever files it
    * admits. Needs a data file or a DDL state. */
  def schema(spark: SparkSession): StructType =
    ddl.map(_.physicalReadSchema).getOrElse(
      FastScan.footerSchema(spark, fs, path(dataFiles.head)))
}
