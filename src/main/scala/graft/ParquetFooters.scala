package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.SqlOnFileBridge
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** What a parquet table's footers already say — its schema and its row
  * count — read on the driver, so learning either costs no Spark job.
  *
  * `spark.read.parquet(path)` infers the schema with a one-task job that
  * reads the first data file's footer; `count()` scans every row group
  * header through a full job. Both facts sit in the footers, so a
  * plan-time reader gets them here instead, the way a catalog table
  * carries its schema from DDL rather than from its data files.
  *
  * The schema is Spark's own: [[ParquetFileFormat.readSchemaFromFooter]]
  * over the data file Spark's inference reads (the first by path, among
  * the files its file index lists), with the converter inference builds
  * from the session's SQLConf (so `spark.sql.legacy.parquet.nanosAsLong`
  * applies), made nullable as every file-source relation is. A path is a
  * single file or a flat directory of data files.
  *
  * Footers are cached without their row groups, keyed by the data file's
  * path, length and modification time, so a rewritten file is read
  * afresh; the cached footer is converted on every call, under the
  * calling session's conf.
  */
object ParquetFooters {

  private val footers =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Footer]()

  /** The schema `spark.read.parquet(path).schema` infers, with no job. */
  def schema(s: SparkSession, path: String): StructType =
    inferredSchema(s, path).getOrElse(throw new IllegalArgumentException(
      s"$path is not a single parquet file or a flat directory of parquet data files"))

  /** The schema Spark's inference gives a scan of `path` in `s`, or None
    * where inference does more than read one data file's footer: a
    * subdirectory (partition discovery, or a streaming sink's log), a
    * `_metadata` or `_common_metadata` summary file (read ahead of the
    * data files), or no data file at all (inference fails).
    */
  def inferredSchema(s: SparkSession, path: String): Option[StructType] = {
    val conf = s.sessionState.newHadoopConf()
    val listed = listing(conf, path)
    if (listed.exists(f => f.isDirectory || isSummary(f))) None
    else listed.sortBy(_.getPath.toString).headOption.map { first =>
      val footer = footers.computeIfAbsent(
        (first.getPath.toString, first.getLen, first.getModificationTime),
        _ => new Footer(first.getPath,
          readFooter(conf, first, ParquetMetadataConverter.SKIP_ROW_GROUPS)))
      nullable(ParquetFileFormat.readSchemaFromFooter(footer, converter(s)))
    }
  }

  /** The table's row count, summed over the row groups of every footer. */
  def rowCount(s: SparkSession, path: String): Long = {
    val conf = s.sessionState.newHadoopConf()
    listing(conf, path).filter(f => f.isFile && !isSummary(f)).map { f =>
      readFooter(conf, f, ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  /** A plain DataSource v1 parquet relation over `path` (full pruning and
    * pushdown) whose schema came from the footer. */
  def read(s: SparkSession, path: String): DataFrame =
    s.read.schema(schema(s, path)).parquet(path)

  /** `path` itself if a file, else its children: what Spark's file index
    * lists for it, bar the hidden names it drops. Subdirectories stay in,
    * whatever their name, for [[inferredSchema]] to refuse. */
  private def listing(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    p.getFileSystem(conf).listStatus(p).toSeq
      .filter(f => f.isDirectory || !SqlOnFileBridge.hiddenFile(f.getPath.getName))
  }

  private def isSummary(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    n == ParquetFileWriter.PARQUET_METADATA_FILE || n == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
  }

  /** The converter `ParquetFileFormat.mergeSchemasInParallel` builds: five
    * flags from the session's conf, the rest at their defaults. */
  private def converter(s: SparkSession): ParquetToSparkSchemaConverter = {
    val c = s.sessionState.conf
    new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = c.isParquetBinaryAsString,
      assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
      inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
      nanosAsLong = c.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation)
  }

  private def readFooter(conf: Configuration, f: FileStatus,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), filter)

  private def nullable(st: StructType): StructType =
    StructType(st.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))

  private def nullable(t: DataType): DataType = t match {
    case st: StructType => nullable(st)
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
