package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.util.Using

/** Job-free opens of batch-written parquet paths.
  *
  * `spark.read.parquet(path)` infers the schema with a Spark job
  * (`parquet at …`, about 100 ms of job launch on a local session), paid
  * by every query that opens a table. Without `mergeSchema` that job reads
  * ONE footer: the first data file in path order. [[open]] reads the same
  * footer on the driver and converts it the way inference does
  * (`ParquetFileFormat.readSchemaFromFooter` with a converter built from
  * the session conf, so `spark.sql.legacy.parquet.nanosAsLong` and Spark's
  * row-metadata key apply unchanged), then hands the schema to the reader.
  * File listing, partition discovery, pushdown and the scan itself are the
  * reader's, exactly as before. TablesLoadSpec pins the schema against
  * `spark.read.parquet(path).schema`.
  */
object Parquet {

  /** `spark.read.parquet(path)` with the schema taken from one footer.
    * `path` is a parquet file or a directory of them (`k=v` partition dirs
    * included). A streaming file-sink output is rejected: Spark reads it
    * through the sink's `_spark_metadata` log, not by listing files. */
  def open(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(!fs.exists(new Path(root, "_spark_metadata")),
      s"$path holds _spark_metadata: a streaming file-sink output is read " +
        "through the sink's log, so open it with spark.read.parquet")
    val file = firstDataFile(fs, fs.getFileStatus(root)).getOrElse(
      throw new IllegalArgumentException(s"$path holds no parquet data file"))
    val options = HadoopReadOptions.builder(conf)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val footer = Using.resource(
      ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), options))(_.getFooter)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The first data file in full-path order, which is the file Spark's
    * inference reads. Depth first, children by name, with a directory
    * keyed `name/` (the prefix of every path under it) so the walk order
    * equals the path-string order. `_`- and `.`-prefixed names (`_SUCCESS`,
    * checksums, hidden dirs) are skipped, as Spark's listing skips them. */
  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot { c => val n = c.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      .sortBy(c => if (c.isDirectory) c.getPath.getName + "/" else c.getPath.getName)
      .iterator.flatMap(firstDataFile(fs, _)).nextOption()
}
