package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter, ParquetInputFormat, ParquetRecordReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Literal, Predicate, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils}
import org.apache.spark.sql.internal.{SessionStateHelper, SQLConf}
import org.apache.spark.util.HadoopFSUtils

/** Driver-side parquet access — placed in Spark's parquet package for
  * `private[sql]` access only (`SessionStateHelper`, the row-based
  * reader's parts); everything used is Spark's own reader code
  * (`ParquetFooterReader`, `ParquetFileFormat.readSchemaFromFooter`,
  * `ParquetReadSupport`, `ParquetFilters`, `HadoopFSUtils`' hidden-file
  * rule).
  */
object GraftParquet extends PredicateHelper {

  /** One parquet file's full footer (schema and row-group metadata), read
    * on the driver — the engine's single footer reader.
    */
  def footer(conf: Configuration, file: Path): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(file, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** The footer-to-Catalyst schema converter under the session's flags —
    * the one parquet schema inference uses.
    */
  private def converter(sql: SQLConf) = new ParquetToSparkSchemaConverter(
    assumeBinaryIsString = sql.isParquetBinaryAsString,
    assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
    inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
    nanosAsLong = sql.legacyParquetNanosAsLong,
    respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)

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
          ParquetFileFormat.readSchemaFromFooter(
            new Footer(file.getPath, footer(conf, file.getPath)),
            converter(SessionStateHelper.getSqlConf(spark)))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** The rows of the parquet `files` that satisfy `condition`, read HERE
    * on the driver with Spark's row-based parquet reader (the
    * `ParquetReadSupport` under parquet-mr's `ParquetRecordReader` that a
    * scan task runs when it does not vectorize), as a `LocalRelation`
    * frame: its actions start no Spark job and compile no scan stage.
    *
    *  - Schema: the footer of the first file by path (the file [[read]]
    *    takes its schema from), converted as [[read]] converts it and
    *    nullable, as a file source's output is. Every file is read with
    *    that schema.
    *  - `condition` is analyzed against that schema (Spark's own type
    *    coercion), pushed into each file's reader as the parquet
    *    row-group filter a scan would push (`ParquetFilters`, when
    *    `spark.sql.parquet.filterPushdown` is on) and evaluated on every
    *    row read, so the driver keeps only the matching rows.
    *  - The rows are read by this call, not by the frame's action. No
    *    relation is resolved, nothing is broadcast and nothing is cached.
    *
    * Meant for point reads: every matching row is held in driver memory.
    */
  def readOnDriver(spark: SparkSession, files: Seq[String],
      condition: Column): DataFrame = {
    require(files.nonEmpty, "readOnDriver needs at least one file")
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = SessionStateHelper.getHadoopConf(spark)
    val sql = SessionStateHelper.getSqlConf(spark)
    val opened = files.sorted.map { f =>
      val in = HadoopInputFile.fromPath(new Path(f), conf)
      (in, ParquetFooterReader.readFooter(in, ParquetMetadataConverter.NO_FILTER))
    }
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(opened.head._1.getPath, opened.head._2), converter(sql)).asNullable
    val attrs = DataTypeUtils.toAttributes(schema)
    val cond = classic.Dataset.ofRows(session, LocalRelation(attrs))
      .filter(condition).queryExecution.analyzed.asInstanceOf[Filter].condition
    val keep = Predicate.createInterpreted(BindReferences.bindReference(cond, attrs))
    // the scan's pushdown: constant-folded conjuncts as data source filters
    val pushable = splitConjunctivePredicates(cond.transformDown {
      case e if e.foldable => Literal(e.eval(), e.dataType)
    }).flatMap(DataSourceStrategy.translateFilter(_,
      supportNestedPredicatePushdown = true))
    // the reader's settings, as a scan sets them on its Hadoop conf
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sql.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sql.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sql.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
    val options = new ParquetOptions(Map.empty[String, String], sql)
    val rows = opened.flatMap { case (in, meta) =>
      val fileMeta = meta.getFileMetaData
      val kv = fileMeta.getKeyValueMetaData
      val datetimeRebase = DataSourceUtils.datetimeRebaseSpec(kv.get,
        options.datetimeRebaseModeInRead)
      val int96Rebase = DataSourceUtils.int96RebaseSpec(kv.get,
        options.int96RebaseModeInRead)
      val convertTz =
        if (sql.isParquetINT96TimestampConversion &&
            !fileMeta.getCreatedBy.startsWith("parquet-mr"))
          Some(DateTimeUtils.getZoneId(sql.sessionLocalTimeZone))
        else None
      val fileConf = new Configuration(conf)
      if (sql.parquetFilterPushDown) {
        val filters = new ParquetFilters(fileMeta.getSchema,
          sql.parquetFilterPushDownDate, sql.parquetFilterPushDownTimestamp,
          sql.parquetFilterPushDownDecimal, sql.parquetFilterPushDownStringPredicate,
          sql.parquetFilterPushDownInFilterThreshold, sql.caseSensitiveAnalysis,
          datetimeRebase)
        pushable.flatMap(filters.createFilter).reduceOption(FilterApi.and)
          .foreach(ParquetInputFormat.setFilterPredicate(fileConf, _))
      }
      val reader = new ParquetRecordReader[InternalRow](new ParquetReadSupport(
        convertTz, enableVectorizedReader = false, datetimeRebase, int96Rebase))
      try {
        reader.initialize(
          new FileSplit(in.getPath, 0L, in.getLength, Array.empty[String]),
          new TaskAttemptContextImpl(fileConf,
            new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0)))
        val kept = Seq.newBuilder[InternalRow]
        while (reader.nextKeyValue()) {
          val row = reader.getCurrentValue
          if (keep.eval(row)) kept += row.copy()
        }
        kept.result()
      } finally reader.close()
    }
    classic.Dataset.ofRows(session, LocalRelation(attrs, rows))
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
