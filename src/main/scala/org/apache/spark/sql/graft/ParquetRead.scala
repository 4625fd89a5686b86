package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** `spark.read.parquet(paths)` with the schema read on the driver.
  *
  * Spark infers a parquet schema with a one-task job
  * (`SchemaMergeUtils.mergeSchemasInParallel`), even when it reads a
  * single footer, so every plain read of a table costs a job and its
  * dispatch. This reader does what `ParquetUtils.inferSchema` does
  * without the job: it lists the paths with an `InMemoryFileIndex`, as
  * Spark does, picks the file Spark would pick — `_common_metadata`,
  * else `_metadata`, else the first data file by path — reads that one
  * footer with `ParquetFooterReader` and converts it with
  * `ParquetFileFormat.readSchemaFromFooter`, with the converter
  * settings Spark's inference uses. The result is
  * `spark.read.schema(schema).parquet(paths)`; partition columns are
  * still discovered by Spark's reader.
  *
  * It calls Spark's own reader instead when the session merges schemas
  * (`spark.sql.parquet.mergeSchema`: every footer is read then, so the
  * merged schema stays Spark's), when a path is a glob, and when there
  * is nothing to read or the listing or footer fails (a missing path,
  * an empty directory, a corrupt footer), so those raise Spark's own
  * errors. Readers that pass options keep calling Spark's reader.
  */
object ParquetRead {
  def apply(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths).fold(spark.read.parquet(paths: _*))(
      s => spark.read.schema(s).parquet(paths: _*))

  /** The schema Spark would infer for `paths`, from one footer read on
    * the driver; `None` where [[apply]] calls Spark's reader.
    */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (paths.isEmpty || conf.isParquetSchemaMergingEnabled) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val roots = paths.map { p =>
        val path = new Path(p)
        path.getFileSystem(hadoopConf).makeQualified(path)
      }
      if (roots.exists(SparkHadoopUtil.get.isGlobPath)) None
      else {
        val files = new InMemoryFileIndex(spark, roots, Map.empty, None).allFiles()
          .sortBy(_.getPath.toString)
        def named(name: String) = files.find(_.getPath.getName == name)
        val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
          ParquetFileWriter.PARQUET_METADATA_FILE)
        named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
          .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
          .orElse(files.find(f => !summaries(f.getPath.getName)))
          .map { f =>
            val footer = ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
            // the settings `ParquetFileFormat.mergeSchemasInParallel`
            // reads; the others keep their defaults there too
            val converter = new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
            ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
          }
      }
    } catch { case NonFatal(_) => None }
  }
}
