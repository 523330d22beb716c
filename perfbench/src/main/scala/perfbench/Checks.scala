package perfbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import scala.jdk.CollectionConverters._

/** Output checks that share no code with the program under test: parquet
  * files are decoded column by column with parquet-mr's low-level reader,
  * Derby tables are read back over plain JDBC, and both are reduced to the
  * generator's order-independent [[Checksum]]. */
object Checks {

  def footer(p: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString), new Configuration()))
    try r.getFooter finally r.close()
  }

  /** Checksum of every row of `p`, whatever physical encoding the writer
    * chose for each logical value. */
  def parquetSum(p: Path): Checksum.Sum = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString), new Configuration()))
    try {
      val meta = r.getFooter.getFileMetaData
      val schema = meta.getSchema
      val cols = schema.getColumns.asScala.toSeq
      var total = Checksum.Empty
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val n = pages.getRowCount.toInt
        val rows = new Array[Long](n)
        val store = new ColumnReadStoreImpl(pages,
          new GroupRecordConverter(schema).getRootConverter, schema, meta.getCreatedBy)
        cols.foreach { c =>
          val seed = Checksum.seed(c.getPath.last)
          val cr = store.getColumnReader(c)
          val maxDef = c.getMaxDefinitionLevel
          val t = c.getPrimitiveType
          var i = 0
          while (i < n) {
            val h = if (cr.getCurrentDefinitionLevel < maxDef) Checksum.NullHash else valueHash(cr, t)
            rows(i) += Checksum.cell(seed, h)
            cr.consume(); i += 1
          }
        }
        var s = 0L
        var i = 0
        while (i < n) { s += Checksum.fmix(rows(i)); i += 1 }
        total = total + Checksum.Sum(n, s)
        pages = r.readNextRowGroup()
      }
      total
    } finally r.close()
  }

  /** Canonical form: TIMESTAMP in micros, TIME in millis, DECIMAL unscaled,
    * text and binary as bytes (the [[Kind]] conventions). */
  private def valueHash(cr: ColumnReader, t: PrimitiveType): Long = {
    val ann = t.getLogicalTypeAnnotation
    def unscaled(b: Array[Byte]) = new java.math.BigInteger(b).longValueExact()
    t.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => ann match {
        case tm: LTA.TimeLogicalTypeAnnotation => Checksum.ofLong(toMillis(cr.getInteger.toLong, tm.getUnit))
        case _ => Checksum.ofLong(cr.getInteger.toLong)
      }
      case PrimitiveTypeName.INT64 => ann match {
        case ts: LTA.TimestampLogicalTypeAnnotation => Checksum.ofLong(ts.getUnit match {
          case LTA.TimeUnit.MILLIS => cr.getLong * 1000
          case LTA.TimeUnit.MICROS => cr.getLong
          case LTA.TimeUnit.NANOS => Math.floorDiv(cr.getLong, 1000L)
        })
        case tm: LTA.TimeLogicalTypeAnnotation => Checksum.ofLong(toMillis(cr.getLong, tm.getUnit))
        case _ => Checksum.ofLong(cr.getLong)
      }
      case PrimitiveTypeName.DOUBLE => Checksum.ofLong(java.lang.Double.doubleToLongBits(cr.getDouble))
      case PrimitiveTypeName.FLOAT =>
        Checksum.ofLong(java.lang.Double.doubleToLongBits(cr.getFloat.toDouble))
      case PrimitiveTypeName.BOOLEAN => Checksum.ofLong(if (cr.getBoolean) 1L else 0L)
      case PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY => ann match {
        case _: LTA.DecimalLogicalTypeAnnotation => Checksum.ofLong(unscaled(cr.getBinary.getBytes))
        case _ => Checksum.ofBytes(cr.getBinary.getBytes)
      }
      case other => throw new IllegalStateException(s"unexpected physical type $other")
    }
  }

  private def toMillis(v: Long, u: LTA.TimeUnit): Long = u match {
    case LTA.TimeUnit.MILLIS => v
    case LTA.TimeUnit.MICROS => Math.floorDiv(v, 1000L)
    case LTA.TimeUnit.NANOS => Math.floorDiv(v, 1000000L)
  }

  /** Rows the export landed, as decoded, and its failures: rows and
    * checksum against the generator, and zstd on every column chunk. */
  def exportFailures(files: Seq[Path], expected: Checksum.Sum): (Long, Seq[String]) = {
    val fails = Seq.newBuilder[String]
    if (files.isEmpty) fails += "no output file"
    val got = files.map(parquetSum).foldLeft(Checksum.Empty)(_ + _)
    if (got.rows != expected.rows) fails += s"rows ${got.rows} != ${expected.rows}"
    else if (got.sum != expected.sum) fails += "checksum mismatch"
    files.foreach { f =>
      val codecs = footer(f).getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
      if (codecs.exists(_ != CompressionCodecName.ZSTD))
        fails += s"${f.getFileName}: codecs ${codecs.mkString(",")}"
    }
    (got.rows, fails.result())
  }

  /** Row groups larger than the requested batch size. The reference writes
    * one row group per fetch batch; a larger group holds the same data. */
  def rowGroupFindings(files: Seq[Path], batchRows: Int): Seq[String] =
    files.flatMap { f =>
      footer(f).getBlocks.asScala.find(_.getRowCount > batchRows).map(b =>
        s"${f.getFileName}: row group of ${b.getRowCount} rows > $batchRows")
    }

  /** A column's physical type and annotation, as a footer prints them. */
  def describeColumn(f: Path, name: String): String = {
    val schema = footer(f).getFileMetaData.getSchema
    val t = schema.getType(schema.getFieldIndex(name)).asPrimitiveType()
    val len = if (t.getPrimitiveTypeName == PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
      s"(${t.getTypeLength})" else ""
    s"${t.getPrimitiveTypeName}$len" +
      Option(t.getLogicalTypeAnnotation).map(a => s" $a").getOrElse("")
  }

  /** Split outputs are `<stem>_NN<ext>` with NN = 01, 02, … in order and
    * zero-padded to `suffixLength`, and nothing else is left in the
    * output directory. */
  def suffixFailures(files: Seq[Path], dir: Path, stem: String, ext: String,
      suffixLength: Int): Seq[String] = {
    val want = files.indices.map(i => s"${stem}_${s"%0${suffixLength}d".format(i + 1)}$ext")
    val got = files.map(_.getFileName.toString)
    val listed = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    Seq(
      if (got != want) Some(s"file names ${got.mkString(",")} != ${want.mkString(",")}") else None,
      if (listed != want.sorted) Some(s"directory holds ${listed.mkString(",")}") else None
    ).flatten
  }

  /** Rows and checksum of a Derby table read back over JDBC. */
  def derbySum(conn: java.sql.Connection, table: String, cols: Seq[Col]): Checksum.Sum = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT ${cols.map(_.name).mkString(", ")} FROM $table")
      val seeds = cols.map(c => Checksum.seed(c.name)).toArray
      var n = 0L
      var s = 0L
      while (rs.next()) {
        var h = 0L
        var i = 0
        while (i < cols.length) {
          val k = cols(i).kind
          val v: Any = k match {
            case Kind.I64 | Kind.I32 | Kind.TimeMillis => rs.getLong(i + 1)
            case Kind.Dec2 => Option(rs.getBigDecimal(i + 1))
              .map(_.setScale(2).unscaledValue.longValueExact()).orNull
            case Kind.F64 => rs.getDouble(i + 1)
            case _: Kind.Text | Kind.Char1 => rs.getString(i + 1)
            case Kind.Date => Option(rs.getDate(i + 1)).map(_.toLocalDate.toEpochDay).orNull
            case Kind.TsMicros => Option(rs.getTimestamp(i + 1)).map(t =>
              t.getTime / 1000 * 1000000 + t.getNanos / 1000).orNull
            case Kind.Bytes16 => rs.getBytes(i + 1)
          }
          h += Checksum.cell(seeds(i), Checksum.value(k, if (rs.wasNull()) null else v))
          i += 1
        }
        s += Checksum.fmix(h); n += 1
      }
      Checksum.Sum(n, s)
    } finally st.close()
  }

  def derbyCount(conn: java.sql.Connection, table: String): Long = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally st.close()
  }
}
