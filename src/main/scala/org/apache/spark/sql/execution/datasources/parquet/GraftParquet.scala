package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils,
  FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.SchemaUtils

/** A parquet path read that submits no job. `spark.read.parquet(path)`
  * infers the data schema through `SchemaMergeUtils.mergeSchemasInParallel`,
  * a one-task job, although without mergeSchema it reads a single footer.
  * This reads that footer on the driver instead and builds the same
  * relation over the same file index, so the path is listed once. The
  * footer helpers are `private[parquet]`, hence this one-file shim.
  */
object GraftParquet {

  /** The frame `spark.read.parquet(path)` builds, or None where Spark's own
    * read must run: schema merging on, parquet served by the V2 source, no
    * file to take a schema from, or a footer that cannot be read or
    * converted (Spark then raises its own error or skips the corrupt file).
    */
  def read(spark: SparkSession, path: String): Option[DataFrame] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val options = Map("path" -> path)
    if (new ParquetOptions(options, conf).mergeSchema ||
        DataSource.lookupDataSourceV2("parquet", conf).isDefined) return None
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    // DataSource.resolveRelation's choice: a streaming sink's directory is
    // read through its metadata log, anything else is listed
    val streamSink = FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf)
    val index: PartitioningAwareFileIndex =
      if (streamSink) new MetadataLogFileIndex(session, new Path(path),
        CaseInsensitiveMap(options), None)
      else new InMemoryFileIndex(session,
        DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
          checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true),
        options, None, FileStatusCache.getOrCreate(session))
    footerSchema(index, hadoopConf, conf).map { dataSchema =>
      // a listed read's columns are all nullable; a sink log's keep the
      // writer's nullability, as in DataSource.resolveRelation
      val relation = HadoopFsRelation(index, index.partitionSchema,
        if (streamSink) dataSchema else dataSchema.asNullable, None,
        new ParquetFileFormat, CaseInsensitiveMap(options))(session)
      SchemaUtils.checkSchemaColumnNameDuplication(relation.dataSchema, conf.resolver)
      SchemaUtils.checkSchemaColumnNameDuplication(relation.partitionSchema, conf.resolver)
      DataSourceUtils.verifySchema(relation.fileFormat, relation.dataSchema)
      session.baseRelationToDataFrame(relation)
    }
  }

  /** Non-merge inference's one footer (`ParquetUtils.inferSchema`):
    * `_common_metadata`, else `_metadata`, else the first data file in path
    * order; converted as `mergeSchemasInParallel` converts it.
    */
  private def footerSchema(index: PartitioningAwareFileIndex,
                           hadoopConf: Configuration, conf: SQLConf) = {
    val leaves = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val summary = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find(f => !summary(f.getPath.getName)))
      .flatMap { file =>
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        try {
          val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS))
          Some(ParquetFileFormat.readSchemaFromFooter(footer, converter))
        } catch { case NonFatal(_) => None }
      }
  }
}
