package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet reads that take their schema from one footer instead of Spark's
  * schema-inference job, which schedules a Spark job even for one file
  * (~100 ms, against ~2 ms for the footer read). Every file under a path is
  * taken to share one schema, as Spark's own inference assumes without
  * `mergeSchema`, so the first data file's footer speaks for all of them.
  * The partition columns of a `k=v` directory tree are in no footer; Spark
  * still infers them and appends them to the given schema, so [[read]]
  * returns the schema of `spark.read.parquet(path)`. Every footer is opened
  * through [[PhysicalFormat.reader]]. */
object FooterSchema {

  /** The footer key under which Spark's writer stores the row schema. */
  val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The entries of `dir` that can hold data, smallest name first: names
    * starting with `_` (`_SUCCESS`, `_spark_metadata`) or `.` (checksums,
    * hidden staging files) do not. */
  def visible(dir: Path): Seq[Path] =
    Staging.listNames(dir).filterNot(n => n.startsWith("_") || n.startsWith("."))
      .sorted.map(dir.resolve)

  /** The first data file of `p`: a file is itself; a directory's is that of
    * its smallest visible entry, so a hive `k=v` tree is descended. */
  @annotation.tailrec
  def firstDataFile(p: Path): Path =
    if (!Files.isDirectory(p)) p
    else firstDataFile(visible(p).headOption.getOrElse(
      throw new java.io.FileNotFoundException(s"no data files under $p")))

  /** A local path, given plainly or as a `file:` URI. */
  def localPath(path: String): Path =
    if (path.startsWith("file:")) Paths.get(java.net.URI.create(path)) else Paths.get(path)

  /** The footer of the parquet file `file`, in one open. */
  def footer(file: Path): ParquetMetadata = {
    val r = PhysicalFormat.reader(file)
    try r.getFooter finally r.close()
  }

  /** The schema Spark's inference gives a file with this footer: the row
    * schema Spark's writer stored, or else the session's parquet converter,
    * so the reader policy (nanos as long, no NTZ inference) applies. */
  def sparkSchema(spark: SparkSession, meta: FileMetaData): StructType =
    Option(meta.getKeyValueMetaData.get(SparkSchemaKey)) match {
      case Some(json) => DataType.fromJson(json).asInstanceOf[StructType]
      case None => org.apache.spark.sql.GraftBridge.convertParquetSchema(spark, meta)
    }

  /** The data schema of the parquet file or directory `path`. */
  def of(spark: SparkSession, path: String): StructType =
    sparkSchema(spark, footer(firstDataFile(localPath(path))).getFileMetaData)

  /** `spark.read.parquet(paths)` with the schema of `paths.head` ([[of]]). */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(of(spark, paths.head)).parquet(paths: _*)
}
