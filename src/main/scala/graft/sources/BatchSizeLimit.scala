package graft.sources

import org.apache.spark.sql.types._

/** Batch sizing: rows per fetch batch / parquet row group.
  *
  * Mirrors the reference's `BatchSizeLimit` (`src/query/batch_size_limit.rs:
  * 59-109`): effective rows = min(row limit, memory limit ÷ bytes-per-row),
  * defaults 65,535 rows and 2 GiB, and a single row larger than the memory
  * cap is a hard error. Bytes-per-row is estimated from the Spark schema the
  * same way the reference sizes its ODBC buffers from column descriptions.
  *
  * In Spark these rows are the parquet sink's batch (each read task cuts
  * its rows into batches, and each batch is encoded as one row group, the
  * unit the sink's file splitting counts; [[EncoderPool]]) and the JDBC
  * `fetchsize`.
  */
object BatchSizeLimit {

  val DefaultRows: Int = 65535
  val DefaultMemoryBytes: Long = 2L * 1024 * 1024 * 1024

  /** Worst-case in-memory width of one row of `schema`, following the
    * fixed-size buffer model (variadic columns count their declared/clamped
    * limit, reference conversion_strategy.rs:90-105). */
  def bytesPerRow(schema: StructType, defaultTextLimit: Int = 4096): Long =
    schema.fields.map { f =>
      val base: Long = f.dataType match {
        case BooleanType | ByteType => 1L
        case ShortType => 2L
        case IntegerType | FloatType | DateType => 4L
        case LongType | DoubleType | TimestampType | TimestampNTZType => 8L
        case _: DecimalType => 16L
        case StringType | BinaryType =>
          if (f.metadata.contains(graft.functions.TypeMapping.TextLimitKey))
            f.metadata.getLong(graft.functions.TypeMapping.TextLimitKey)
          else defaultTextLimit.toLong
        case _ => defaultTextLimit.toLong
      }
      base + 8L // per-column indicator/def-level overhead
    }.sum

  def effectiveRows(
      schema: StructType,
      rowLimit: Int = DefaultRows,
      memoryLimitBytes: Long = DefaultMemoryBytes): Int = {
    val width = math.max(1L, bytesPerRow(schema))
    if (width > memoryLimitBytes)
      throw new IllegalArgumentException(
        s"a single row needs $width bytes which exceeds the memory limit " +
          s"$memoryLimitBytes; raise --batch-size-memory")
    math.min(rowLimit.toLong, memoryLimitBytes / width).toInt.max(1)
  }
}
