package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet schema inference on the driver, with no Spark job.
  *
  * `spark.read.parquet(path)` infers its schema through
  * `ParquetUtils.inferSchema` → `ParquetFileFormat.mergeSchemasInParallel`,
  * which launches a Spark job even when it reads one footer. Without
  * `mergeSchema` that job reads exactly one file: of the path's leaf files
  * sorted by path, `_common_metadata`, else `_metadata`, else the first
  * data file. [[infer]] picks that same file, reads its footer in the
  * calling thread and converts it with Spark's own
  * `ParquetFileFormat.readSchemaFromFooter` and a converter configured as
  * the job's is, so the schema is Spark's. Those entry points are
  * `private[parquet]`, which is why this object is declared in Spark's
  * parquet package (the same pattern as `GraftPlanBridge`).
  *
  * Any input outside that shape — a glob, a subdirectory (a partitioned
  * layout), a file-stream sink's metadata log, `mergeSchema` on, no file
  * to read, or a footer that fails to read — goes to Spark's own
  * inference, which returns Spark's schema or raises Spark's error.
  */
object GraftParquetSchema {

  /** The schema `spark.read.parquet(paths: _*).schema` returns. */
  def infer(spark: SparkSession, paths: Seq[String]): StructType =
    fromFooter(spark, paths).getOrElse(spark.read.parquet(paths: _*).schema)

  /** The schema read from the one footer Spark's inference would read,
    * or None where only Spark's inference gives its answer. */
  def fromFooter(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    if (paths.isEmpty || new ParquetOptions(Map.empty[String, String], conf).mergeSchema ||
        paths.exists(p => SparkHadoopUtil.get.isGlobPath(new Path(p))))
      None
    else try {
      if (FileStreamSink.hasMetadata(paths, hadoopConf, conf)) None
      else {
        val listed = paths.flatMap { p =>
          val path = new Path(p)
          path.getFileSystem(hadoopConf).listStatus(path).toSeq
        }.filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
        if (listed.exists(_.isDirectory)) None
        else {
          val leaves = listed.sortBy(_.getPath.toString)
          def named(n: String) = leaves.find(_.getPath.getName == n)
          val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
            ParquetFileWriter.PARQUET_METADATA_FILE)
          named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
            .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
            .orElse(leaves.find(s => !summaries(s.getPath.getName)))
            .map { file =>
              val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
                HadoopInputFile.fromStatus(file, hadoopConf),
                ParquetMetadataConverter.SKIP_ROW_GROUPS))
              val converter = new ParquetToSparkSchemaConverter(
                assumeBinaryIsString = conf.isParquetBinaryAsString,
                assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
                inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
                nanosAsLong = conf.legacyParquetNanosAsLong,
                respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
              // the file relation Spark builds reads every column as nullable
              ParquetFileFormat.readSchemaFromFooter(footer, converter).asNullable
            }
        }
      }
    } catch { case NonFatal(_) => None }
  }
}
