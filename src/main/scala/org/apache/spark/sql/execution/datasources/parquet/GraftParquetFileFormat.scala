package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType

/** Spark's parquet source, except that the schema is read from the footers
  * on the driver. Spark's own `inferSchema` reads them in a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`): one single-task job per
  * `spark.read.parquet`, although without `mergeSchema` one footer decides
  * the schema. Here the same files are chosen as in
  * `ParquetUtils.inferSchema` (`_common_metadata`, else `_metadata`, else
  * the first data file by path; every file under `mergeSchema`), read with
  * Spark's `readParquetFootersInParallel`, converted per footer with
  * Spark's `readSchema` and merged left to right as the job merges them.
  *
  * Everything else is inherited: listing, partition inference, the
  * streaming sink's `_spark_metadata` index, `shortName` "parquet" (plans
  * still show `FileScan parquet`) and every `isInstanceOf[ParquetFileFormat]`
  * rule. Lives in Spark's package for the `private[parquet]` footer helpers;
  * engine code reaches it through `graft.tables.Tables.parquet`.
  */
class GraftParquetFileFormat extends ParquetFileFormat {
  override def inferSchema(
      sparkSession: SparkSession,
      parameters: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = sparkSession.sessionState.conf
    val leaves = files.sortBy(_.getPath.toString)
    def named(name: String) = leaves.filter(_.getPath.getName == name)
    val (common, summary) = (named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE),
      named(ParquetFileWriter.PARQUET_METADATA_FILE))
    val data = leaves.diff(common ++ summary)
    val toTouch =
      if (new ParquetOptions(parameters, conf).mergeSchema)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ summary ++ common
      else common.headOption.orElse(summary.headOption).orElse(data.headOption).toSeq
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      sparkSession.sessionState.newHadoopConfWithOptions(parameters), toTouch,
      new FileSourceOptions(CaseInsensitiveMap(parameters)).ignoreCorruptFiles)
    footers.flatMap(f => ParquetFileFormat.readSchema(Seq(f), sparkSession))
      .reduceOption { (merged, next) =>
        try merged.merge(next, conf.caseSensitiveAnalysis) catch {
          case cause: SparkException =>
            throw QueryExecutionErrors.failedMergingSchemaError(merged, next, cause)
        }
      }
  }
}
