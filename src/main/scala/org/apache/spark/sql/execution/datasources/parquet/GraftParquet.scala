package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.util.HadoopFSUtils

/** Driver-side parquet footer access — placed in Spark's parquet package
  * for `private[sql]` access only (`SessionStateHelper`); everything used
  * is Spark's own reader code (`ParquetFooterReader`,
  * `ParquetFileFormat.readSchemaFromFooter`, `HadoopFSUtils`' hidden-file
  * rule).
  */
object GraftParquet {

  /** One parquet file's full footer (schema and row-group metadata), read
    * on the driver — the engine's single footer reader.
    */
  def footer(conf: Configuration, file: Path): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** `spark.read.parquet(paths: _*)` without its schema-inference Spark
    * job. Spark 4.1 infers a parquet schema through
    * `mergeSchemasInParallel` even with `mergeSchema` off, which launches
    * a job to read ONE footer: the first data file by path. This reads
    * that same footer here and converts it with the converter and session
    * flags that inference uses (Spark's stored row schema first, then
    * binaryAsString, int96AsTimestamp, inferTimestampNTZ,
    * legacy nanosAsLong, respectUnknownTypeAnnotation), then hands the
    * schema to the reader.
    *
    * Falls back to the plain read, so errors and partition discovery stay
    * Spark's own, when a path is missing, holds a subdirectory or a
    * summary file, no data file exists, or the footer cannot be read.
    * Nothing is cached: every call opens its footer afresh.
    */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val schema =
      try {
        val conf = SessionStateHelper.getHadoopConf(spark)
        schemaSource(conf, paths).map { file =>
          val sql = SessionStateHelper.getSqlConf(spark)
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = sql.isParquetBinaryAsString,
            assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
            inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
            nanosAsLong = sql.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              sql.parquetReaderRespectUnknownTypeAnnotation)
          ParquetFileFormat.readSchemaFromFooter(
            new Footer(file.getPath, footer(conf, file.getPath)), converter)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** The file Spark's non-merging inference takes the schema from: the
    * first data file by qualified path among the leaves of `paths`
    * (a directory contributes its non-hidden children — names starting
    * with `_` or `.` are sidecars, as in Spark's listing). None whenever
    * the choice needs Spark's own listing.
    */
  private def schemaSource(conf: Configuration,
      paths: Seq[String]): Option[FileStatus] = {
    val roots = paths.map { s => val p = new Path(s); (p, p.getFileSystem(conf)) }
    if (!roots.forall { case (p, fs) => fs.exists(p) }) None
    else {
      val leaves = roots.flatMap { case (p, fs) =>
        val st = fs.getFileStatus(p)
        if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      }.filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
      val summary = Set(ParquetFileWriter.PARQUET_METADATA_FILE,
        ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      if (leaves.exists(f => f.isDirectory || summary(f.getPath.getName))) None
      else leaves.sortBy(_.getPath.toString).headOption
    }
  }
}
