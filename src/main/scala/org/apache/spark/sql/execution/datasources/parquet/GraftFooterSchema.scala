package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(file).schema` resolves for ONE file,
  * read on the driver. Spark serves that call through
  * `ParquetUtils.inferSchema` → `SchemaMergeUtils.mergeSchemasInParallel`,
  * a `parallelize(...).collect()` job that opens the one footer inside
  * a task. Here the same footer is opened in-process and handed to the
  * same Spark rules: `ParquetFileFormat.readSchemaFromFooter` (the
  * serialized row schema when present, else the converter built from
  * the session exactly as `mergeSchemasInParallel` builds it), then
  * `asNullable`, as `DataSource.resolveRelation` applies. Package seam
  * because `StructType.asNullable` is `private[spark]`. */
object GraftFooterSchema {

  def read(spark: SparkSession, fs: FileSystem, path: Path): StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(path, fs.getConf))
    val meta = try reader.getFooter finally reader.close()
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, meta), converter)
      .asNullable
  }
}
