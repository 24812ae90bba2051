package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{GraftFooterSchema, ParquetFileFormat}
import org.apache.spark.sql.types.StructType

/** Parquet relation construction for a KNOWN file set — the versioned
  * store's manifests pin exact file lists, so the generic
  * `spark.read.parquet(files*)` path does strictly redundant work:
  * a per-path glob/exists check plus an `InMemoryFileIndex` listing,
  * ~1.7 ms of driver time PER FILE (measured: 3.2 s to merely
  * CONSTRUCT the relation over a 1,920-file table, before any task
  * runs — and linear in file count, i.e. minutes at production
  * manifest sizes). Here the statuses come from one `listStatus` per
  * commit directory and feed a static [[FileIndex]] directly; the
  * relation is the SAME `HadoopFsRelation` + `ParquetFileFormat`
  * (vectorized reader, whole-stage codegen, pushed filters,
  * `_metadata` columns all unchanged) — only the redundant
  * re-discovery of a file list the manifest already states is gone
  * (guide §6: listing cost is driver-side, single-process work).
  *
  * Row-level semantics are identical to `spark.read.parquet`: same
  * scan operator, same split planning inputs (real file lengths), and
  * Spark re-applies every predicate above the scan. A scan that needs
  * the schema of one known file takes it from [[footerSchema]]: a
  * driver-side footer read, no Spark job. */
private[graft] object FastScan {

  private final class StaticFileIndex(root: Path, ss: Seq[FileStatus])
      extends FileIndex {
    override val rootPaths: Seq[Path] = Seq(root)
    override def partitionSchema: StructType = new StructType()
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression])
        : Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, ss.toArray))
    override def inputFiles: Array[String] =
      ss.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = ss.map(_.getLen).sum
  }

  /** FileStatuses for absolute `paths` via ONE listStatus per parent
    * directory (commit dirs hold many files; per-file getFileStatus
    * round-trips are the cost being removed). A path whose parent
    * listing misses it falls back to getFileStatus, so a genuinely
    * absent file still surfaces the usual FileNotFoundException. */
  def statusesOf(fs: FileSystem, paths: Seq[Path]): Seq[FileStatus] = {
    val wanted = paths.map(fs.makeQualified)
    val byPath: Map[Path, FileStatus] = wanted.map(_.getParent).distinct
      .flatMap(d =>
        try fs.listStatus(d).toSeq
        catch { case _: java.io.FileNotFoundException => Nil })
      .map(s => s.getPath -> s).toMap
    wanted.map(p => byPath.getOrElse(p, fs.getFileStatus(p)))
  }

  /** Parquet scan over `statuses` with an explicit data schema. */
  def parquet(spark: SparkSession, root: Path,
              statuses: Seq[FileStatus], schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new StaticFileIndex(root, statuses), new StructType(), schema,
      None, new ParquetFileFormat, Map.empty[String, String])(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))

  /** The schema `spark.read.parquet(path).schema` returns for one
    * parquet file, read from its footer on the driver: no Spark job
    * (Spark infers it with a one-task `parallelize(...).collect()`).
    * Published store files never change, so nothing is cached. */
  def footerSchema(spark: SparkSession, fs: FileSystem,
                   path: Path): StructType =
    GraftFooterSchema.read(spark, fs, path)

  /** Parquet scan over absolute `paths`; schema `None` takes the
    * FIRST file's footer schema (manifest order — a driver-side footer
    * read, no Spark job; homogeneous-footer tables, the store's
    * invariant outside explicit mergeSchema/DDL reads, resolve
    * identically to the generic path). */
  def parquetPaths(spark: SparkSession, fs: FileSystem, root: Path,
                   paths: Seq[String],
                   schema: Option[StructType]): DataFrame = {
    require(paths.nonEmpty, "FastScan needs at least one file")
    val statuses = statusesOf(fs, paths.map(new Path(_)))
    val s = schema.getOrElse(footerSchema(spark, fs, statuses.head.getPath))
    parquet(spark, root, statuses, s)
  }
}
