package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/**
 * Parquet schema inference on the driver. With `mergeSchema` off, Spark's
 * own inference reads exactly one footer, but still ships that read to an
 * executor as a one-task job (`SchemaMergeUtils.mergeSchemasInParallel`).
 * This picks the same footer and converts it the same way, without a job.
 * It sits in Spark's parquet package because the footer reader is
 * `private[parquet]`.
 */
object DriverFooterSchema {

  /** The schema Spark would infer for `path`, or None where this does not
   * reproduce Spark's choice: a glob, a nested or partitioned directory,
   * schema merging on, a custom input path filter, or no candidate file.
   * Throws what listing or reading the footer throws. */
  def infer(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    val hadoopConf = session.sessionState.newHadoopConf()
    val root = new Path(path)
    if (conf.isParquetSchemaMergingEnabled || SparkHadoopUtil.get.isGlobPath(root) ||
        hadoopConf.get("mapreduce.input.pathFilter.class") != null) return None
    val fs = root.getFileSystem(hadoopConf)
    val status = fs.getFileStatus(root)
    // the leaf files InMemoryFileIndex would list: hidden names skipped
    val listed = if (status.isDirectory) fs.listStatus(status.getPath) else Array(status)
    val leaves = listed.filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
    if (leaves.exists(_.isDirectory)) return None
    pickFooterFile(leaves.toSeq).map { file =>
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      val footers = ParquetFileFormat.readParquetFootersInParallel(
        hadoopConf, Seq(file), ignoreCorruptFiles = false)
      ParquetFileFormat.readSchemaFromFooter(footers.head, converter)
    }
  }

  /** `ParquetUtils.inferSchema`'s pick with merging off, over
   * `ParquetUtils.splitFiles`'s order (full path): `_common_metadata`,
   * then `_metadata`, then the first data file. */
  private def pickFooterFile(leaves: Seq[FileStatus]): Option[FileStatus] = {
    val sorted = leaves.sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
  }
}
