package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** The one reader of the parquet graft writes: the input tables,
  * [[Sink]] layouts, IVF stores and their sidecars, side caches. No
  * read runs Spark's schema-inference job, and nothing is kept between
  * reads.
  *
  * Schema: the driver reads the footer of one file, the first visible
  * data file by name under the first existing path, without its row
  * groups. The data schema is the Catalyst schema Spark's writer stores
  * there (`org.apache.spark.sql.parquet.row.metadata`) or, in a file
  * another writer wrote, Spark's conversion of the footer's parquet
  * schema under the session's confs at call time. That is the decision
  * Spark's inference job makes for one footer
  * (`ParquetFileFormat.readSchemaFromFooter`), without `mergeSchema`
  * and without summary files, which graft never writes. Partition
  * columns are still discovered, and typed, from the directory names.
  * Every call lists and reads afresh, so a rewritten table reads its
  * new schema, and every call returns a fresh relation with fresh
  * attribute ids. A path with no visible data file is left to Spark's
  * inference, so a missing or empty path fails as Spark reports it.
  */
object Parquet {

  /** `path`: a file, a directory, or a partitioned layout's root. No
    * `basePath` is set; Spark rejects a file as one.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    load(spark, spark.read, Seq(path))

  /** `paths` (partition dirs or data files under `basePath`) as one
    * DataFrame, with the partition columns of their directory names.
    */
  def read(spark: SparkSession, basePath: String, paths: Seq[String]): DataFrame =
    load(spark, spark.read.option("basePath", basePath), paths)

  /** [[read]] of an optional sidecar: `None` when `path` does not exist. */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Some(read(spark, path))
    else None
  }

  private def load(spark: SparkSession, reader: DataFrameReader, paths: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    def firstFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st)
      else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
        .filterNot(c => isHidden(c.getPath))
        .flatMap(firstFile(fs, _))
        .nextOption()
    val footer = paths.iterator.map(new Path(_)).flatMap { p =>
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) firstFile(fs, fs.getFileStatus(p)) else None
    }.nextOption()
    val schema = footer.map { st =>
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
    schema.fold(reader)(st => reader.schema(st)).parquet(paths: _*)
  }

  /** Spark's own hidden-path rule: dot-prefixed always; underscore-
    * prefixed only when NOT a partition dir (`col=value` contains '=')
    * -- an underscore-named partition COLUMN must stay visible.
    */
  private[sources] def isHidden(p: Path): Boolean =
    p.getName.startsWith(".") || (p.getName.startsWith("_") && !p.getName.contains("="))
}
