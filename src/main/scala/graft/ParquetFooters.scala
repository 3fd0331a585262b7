package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
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
  * with a [[ParquetToSparkSchemaConverter]] built from the session's
  * SQLConf (so `spark.sql.legacy.parquet.nanosAsLong` applies), made
  * nullable as every file-source relation is. A path is a single file or
  * a flat directory of data files (names not starting with `_` or `.`,
  * Spark's hidden-file rule).
  */
object ParquetFooters {

  // A table's schema never changes under a run, so it is cached by path
  // (a StructType holds no session reference).
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The schema `spark.read.parquet(path).schema` infers, with no job. */
  def schema(s: SparkSession, path: String): StructType =
    schemas.computeIfAbsent(path, _ => {
      val conf = s.sessionState.newHadoopConf()
      val first = dataFiles(conf, path).headOption.getOrElse(
        throw new IllegalArgumentException(s"no parquet data files under $path"))
      val footer = new Footer(first.getPath,
        readFooter(conf, first, ParquetMetadataConverter.SKIP_ROW_GROUPS))
      nullable(ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(s.sessionState.conf)))
    })

  /** The table's row count, summed over the row groups of every footer. */
  def rowCount(s: SparkSession, path: String): Long = {
    val conf = s.sessionState.newHadoopConf()
    dataFiles(conf, path).map { f =>
      readFooter(conf, f, ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  /** A plain DataSource v1 parquet relation over `path` (full pruning and
    * pushdown) whose schema came from the footer. */
  def read(s: SparkSession, path: String): DataFrame =
    s.read.schema(schema(s, path)).parquet(path)

  private def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(st)
    else fs.listStatus(p).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
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
