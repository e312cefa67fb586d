package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{DataSource, HadoopFsRelation}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Parquet relations whose schema is read on the driver.
  *
  * A schema-less `spark.read.parquet(p)` resolves its relation with
  * `DataSource.resolveRelation`: one `InMemoryFileIndex` listing,
  * partition discovery, then `ParquetFileFormat.inferSchema`, which
  * picks ONE footer (without `mergeSchema`) and reads it inside a
  * one-task Spark job (`SchemaMergeUtils.mergeSchemasInParallel`).
  *
  * [[read]] runs that same `resolveRelation` — same path qualification,
  * globbing, existence checks, listing, partition schema, column checks
  * and errors — with one difference: the format's `inferSchema` reads
  * that same footer on the driver, with the same reader call and a
  * converter built from the same confs, so no job starts. The relation
  * it returns carries a plain `ParquetFileFormat` and equals the one
  * `spark.read.parquet` builds.
  *
  * Spark's own inference still runs when `mergeSchema` is on (option or
  * `spark.sql.parquet.mergeSchema`) and when the footer cannot be read
  * (corrupt file, `ignoreCorruptFiles`), so those keep Spark's result
  * and error. A session that reads parquet through DataSource V2
  * (`parquet` dropped from `spark.sql.sources.useV1SourceList`) keeps
  * `spark.read.parquet` whole.
  */
object DriverFooterParquet {

  def read(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val conf = SessionStateHelper.getSqlConf(spark)
    if (DataSource.lookupDataSourceV2("parquet", conf).isDefined)
      return spark.read.parquet(paths: _*)
    // DataFrameReader.loadV1Source: one path travels as the "path" option
    val (dsPaths, options) =
      if (!conf.legacyPathOptionBehavior && paths.length == 1) (Nil, Map("path" -> paths.head))
      else (paths, Map.empty[String, String])
    val relation = DataSource(spark,
      className = classOf[DriverFooterParquetFileFormat].getName,
      paths = dsPaths, options = options).resolveRelation()
    val plain = relation match {
      case r: HadoopFsRelation => r.copy(fileFormat = new ParquetFileFormat)(r.sparkSession)
    }
    spark.baseRelationToDataFrame(plain)
  }

  /** The footer `ParquetUtils.inferSchema` reads without `mergeSchema`:
    * files sorted by path, then `_common_metadata`, else `_metadata`,
    * else the first data file. */
  private[parquet] def footerFile(files: Seq[FileStatus]): Option[FileStatus] = {
    val leaves = files.sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find { f =>
        val n = f.getPath.getName
        n != ParquetFileWriter.PARQUET_COMMON_METADATA_FILE &&
          n != ParquetFileWriter.PARQUET_METADATA_FILE
      })
  }
}

/** Resolution-time stand-in for `ParquetFileFormat`; see
  * [[DriverFooterParquet]]. `DataSource` instantiates it by class name,
  * so it stays a public class with a no-argument constructor. */
class DriverFooterParquetFileFormat extends ParquetFileFormat {

  override def inferSchema(spark: SparkSession, parameters: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val state = sessionState(spark)
    val conf = state.conf
    if (new ParquetOptions(parameters, conf).mergeSchema)
      super.inferSchema(spark, parameters, files)
    else DriverFooterParquet.footerFile(files).flatMap { f =>
      // the reader call and converter of ParquetFileFormat.mergeSchemasInParallel
      val hadoopConf = state.newHadoopConfWithOptions(parameters)
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      try {
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        Some(ParquetFileFormat.readSchemaFromFooter(footer, converter))
      } catch {
        case NonFatal(_) => super.inferSchema(spark, parameters, files)
      }
    }
  }
}
