package graft.core

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet schemas read from the footer on the driver.
  *
  * A schema-less `spark.read.parquet(path)` answers with a one-task
  * schema-inference job (`ParquetUtils.inferSchema` →
  * `mergeSchemasInParallel`), 70–100 ms at the local job floor, even
  * when the file has not changed since the last read. [[read]] reads
  * the footer that inference reads with `mergeSchema` off, on the
  * driver, and supplies its schema, so the read plans with no job:
  *  - a file path is its own footer file;
  *  - a directory's is `_common_metadata`, else `_metadata`, else the
  *    first visible data file in path order (Spark's listing rule:
  *    `_`/`.` names are hidden unless they hold `=`).
  *
  * The conversion is Spark's own (`readSchemaFromFooter`: the Spark
  * row-metadata schema when the writer stamped one, else the parquet
  * type converted under the session's flags). Footers are cached
  * JVM-wide by the footer file's path, length and modification time,
  * so a rewritten file is read again; the conversion runs on every
  * call, under the session's current flags (`nanosAsLong`,
  * `binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`), so a
  * flag change never meets a stale schema. The cache is bounded by
  * wholesale clear.
  */
object ParquetFooter {

  /** `spark.read.parquet(path)` with the schema read from the footer.
    * A path with no footer to read (missing, empty, a glob) takes the
    * inferring read, so it fails or resolves as Spark's own would. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerFile(spark, path) match {
      case Some(f) => spark.read.schema(convert(spark, f)).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The parquet type of `path`'s footer file, if it has one. */
  def parquetType(spark: SparkSession, path: String): Option[MessageType] =
    footerFile(spark, path).map(footer(spark, _).getFileMetaData.getSchema)

  /** The Spark schema of one parquet file's footer. */
  def fileSchema(spark: SparkSession, file: Path): StructType =
    convert(spark, fs(spark, file).getFileStatus(file))

  private val footers =
    new ConcurrentHashMap[(String, Long, Long), ParquetMetadata]()

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def footer(spark: SparkSession, f: FileStatus): ParquetMetadata = {
    val key = (f.getPath.toString, f.getLen, f.getModificationTime)
    val hit = footers.get(key)
    if (hit != null) hit
    else {
      val m = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      if (footers.size > 4096) footers.clear()
      footers.put(key, m)
      m
    }
  }

  private def convert(spark: SparkSession, f: FileStatus): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer(spark, f)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  private def visible(name: String): Boolean =
    (!name.startsWith("_") || name.contains("=")) && !name.startsWith(".") &&
      !name.endsWith("._COPYING_")

  private def footerFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    val fileSystem = fs(spark, p)
    val root =
      try Some(fileSystem.getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    root.flatMap { st =>
      if (st.isFile) Some(st)
      else {
        def leaves(dir: Path): Seq[FileStatus] =
          fileSystem.listStatus(dir).toSeq.flatMap { c =>
            val name = c.getPath.getName
            if (c.isDirectory) { if (visible(name)) leaves(c.getPath) else Nil }
            else if (visible(name) || name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
              name == ParquetFileWriter.PARQUET_METADATA_FILE) Seq(c)
            else Nil
          }
        val files = leaves(p).sortBy(_.getPath.toString)
        def named(n: String) = files.find(_.getPath.getName == n)
        named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
          .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
          .orElse(files.find(f => visible(f.getPath.getName)))
      }
    }
  }
}
