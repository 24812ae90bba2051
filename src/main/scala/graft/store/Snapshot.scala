package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** One committed version of a versioned table, resolved once: the
  * store metadata every read and every rewrite commit needs, taken
  * from ONE root listing (the highest `manifest-v*`, `schemaddl-v*`
  * and `properties-v*`) and ONE manifest open by
  * [[Versioned.snapshot]]. Every read entry point of [[Versioned]] is
  * a projection of a snapshot, so a read can never compose version v's
  * files with v+1's tombstones or schema-DDL state, however many
  * commits land while it plans. Every rewrite commit (merge, delete,
  * update, replaceWhere, the deletion-vector commits, compaction)
  * plans against the snapshot of its parent and publishes with that
  * version as its expected parent. Published manifests never change: a
  * snapshot stays exact for as long as its version is retained.
  *
  * `entries` is the manifest as written (data, deletion-vector and CDC
  * entries, root-relative or absolute); `ddl` the schema-DDL state in
  * force at `version`; `propertiesVersion` the n of the newest
  * `properties-v<n>.json` the listing saw (0 = none), read only when a
  * commit asks for [[cdfEnabled]]. */
private[graft] final case class Snapshot(root: String, fs: FileSystem,
    rootPath: Path, version: Long, entries: Seq[String],
    ddl: Option[Versioned.SchemaDdl], propertiesVersion: Long) {

  /** Scannable data files and tombstone files, in manifest order. */
  val (dataFiles, dvFiles) = Versioned.splitEntries(entries)

  /** Absolute path of a manifest entry. */
  def path(entry: String): Path = Versioned.resolve(rootPath, entry)

  /** FileStatus of every data file, in manifest order; one listStatus
    * per commit directory. */
  lazy val statuses: Seq[FileStatus] =
    FastScan.statusesOf(fs, dataFiles.map(path))

  /** Is the change-data-feed table property on, as of the listing?
    * One small state-file read on first ask, no second listing; reads
    * never ask. */
  lazy val cdfEnabled: Boolean = Versioned.cdfEnabled(
    Versioned.propertiesStateAt(fs, rootPath, propertiesVersion))

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
