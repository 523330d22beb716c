package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition

/** Logical column kinds of the generated tables. Every kind has one
  * canonical value form, shared by the generator and the output checks:
  * integers, DECIMAL(12,2) unscaled, epoch days, TIMESTAMP micros and TIME
  * millis are `Long`; text and binary are bytes; DOUBLE is its bit pattern. */
sealed trait Kind
object Kind {
  case object I64 extends Kind
  case object I32 extends Kind
  case object Dec2 extends Kind
  case object F64 extends Kind
  final case class Text(maxLen: Int) extends Kind
  case object Char1 extends Kind
  case object Date extends Kind
  case object TsMicros extends Kind
  case object TimeMillis extends Kind
  case object Bytes16 extends Kind
}

final case class Col(name: String, kind: Kind, nullable: Boolean = false)

/** An order-independent row checksum: the sum over rows of a mix of the
  * sum over columns of mix(column seed ^ value hash). Row order and column
  * order do not matter; moving a value to another row or column does. */
object Checksum {
  def fmix(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
  val NullHash: Long = 0x5bd1e9955bd1e995L
  def ofLong(v: Long): Long = fmix(v + 0x9e3779b97f4a7c15L)
  def ofBytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L ^ b.length
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    fmix(h)
  }
  def seed(column: String): Long = ofBytes(column.toLowerCase.getBytes(UTF_8))
  def cell(seed: Long, valueHash: Long): Long = fmix(seed ^ valueHash)

  /** Hash of one canonical value of `kind` (null allowed). */
  def value(kind: Kind, v: Any): Long = if (v == null) NullHash else kind match {
    case Kind.F64 => ofLong(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
    case _: Kind.Text | Kind.Char1 => ofBytes(v.asInstanceOf[String].getBytes(UTF_8))
    case Kind.Bytes16 => ofBytes(v.asInstanceOf[Array[Byte]])
    case _ => ofLong(v.asInstanceOf[Long])
  }

  final case class Sum(rows: Long, sum: Long) {
    def +(o: Sum): Sum = Sum(rows + o.rows, sum + o.sum)
  }
  val Empty: Sum = Sum(0, 0)
}

/** Seeded table generators and the writers that land them as benchmark
  * inputs: plain JDBC batches into Derby, parquet-mr's example writer for
  * parquet files. The program under test never generates its own inputs. */
object Fixtures {

  private val Words = Array("furiously", "quickly", "carefully", "blithely",
    "slyly", "regular", "final", "express", "pending", "ironic", "bold",
    "special", "even", "silent", "unusual", "packages", "deposits",
    "requests", "accounts", "instructions", "theodolites", "pinto", "beans",
    "foxes", "ideas", "dependencies", "excuses", "platelets", "asymptotes",
    "sleep", "wake", "haggle", "nag", "cajole", "detect", "integrate")

  private def text(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val target = minLen + r.nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
    }
    sb.setLength(target)
    sb.toString
  }

  private def day(r: SplittableRandom): Long = 8035L + r.nextInt(2526) // 1992-01-01 .. 1998-12-01
  private def nullable(r: SplittableRandom, v: Any): Any = if (r.nextInt(100) == 0) null else v

  /** A generated table: schema, row count and a row source that yields
    * the same rows for the same seed. Distinct tables salt the seed. */
  final case class Table(name: String, cols: Seq[Col], rows: Int, salt: Long,
      gen: SplittableRandom => Int => Array[Any]) {
    def iterator(seed: Long): Iterator[Array[Any]] = {
      val r = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + salt)
      val row = gen(r)
      Iterator.range(0, rows).map(row)
    }
    def sum(row: Array[Any]): Long = {
      var h = 0L
      var i = 0
      while (i < cols.length) {
        h += Checksum.cell(seeds(i), Checksum.value(cols(i).kind, row(i))); i += 1
      }
      Checksum.fmix(h)
    }
    private lazy val seeds = cols.map(c => Checksum.seed(c.name)).toArray
  }

  /** lineitem's column mix: BIGINT, INT, DECIMAL(12,2), DOUBLE, VARCHAR(44),
    * CHAR(1), DATE, TIMESTAMP; about 1% NULLs in the two nullable columns. */
  def lineitem(rows: Int): Table = Table("LINEITEM", Seq(
    Col("l_orderkey", Kind.I64), Col("l_linenumber", Kind.I32),
    Col("l_extendedprice", Kind.Dec2), Col("l_discount", Kind.F64, nullable = true),
    Col("l_comment", Kind.Text(44), nullable = true), Col("l_returnflag", Kind.Char1),
    Col("l_shipdate", Kind.Date), Col("l_commitstamp", Kind.TsMicros)),
    rows, salt = 1, r => i => {
      val d = day(r)
      Array[Any](i.toLong * 3 + r.nextInt(3), (1 + r.nextInt(7)).toLong,
        90000L + r.nextInt(10410000), nullable(r, r.nextInt(11) / 100.0),
        nullable(r, text(r, 10, 43)), "ANR".charAt(r.nextInt(3)).toString,
        d, (d * 86400000L + r.nextInt(86400000)) * 1000L)
    })

  private val factCols = Seq(
    Col("f_id", Kind.I64), Col("f_qty", Kind.I32), Col("f_price", Kind.Dec2),
    Col("f_note", Kind.Text(44), nullable = true), Col("f_day", Kind.Date),
    Col("f_time", Kind.TimeMillis), Col("f_key", Kind.Bytes16))
  private def factRow(r: SplittableRandom): Int => Array[Any] = i => {
    val key = new Array[Byte](16)
    r.nextBytes(key)
    Array[Any](i.toLong, (1 + r.nextInt(50)).toLong, 90000L + r.nextInt(10410000),
      nullable(r, text(r, 10, 44)), day(r), r.nextInt(86400000).toLong, key)
  }

  /** The warehouse fact table: a TIME(MILLIS) INT32 and a
    * FIXED_LEN_BYTE_ARRAY(16) column beside lineitem-like columns. */
  def fact(rows: Int): Table = Table("fact", factCols, rows, salt = 2, factRow)

  /** The reverse-insert input: the fact schema under its own seed salt. */
  def insertInput(rows: Int): Table = Table("ins", factCols, rows, salt = 3, factRow)

  /** Small tables in the warehouse folder that the query does not read. */
  def dimTime(rows: Int): Table = Table("dim_time", Seq(
    Col("d_id", Kind.I64), Col("d_open", Kind.TimeMillis), Col("d_label", Kind.Text(20))),
    rows, salt = 4, r => i =>
      Array[Any](i.toLong, r.nextInt(86400000).toLong, text(r, 5, 20)))
  def dimPlain(rows: Int): Table = Table("dim_plain", Seq(
    Col("p_id", Kind.I64), Col("p_name", Kind.Text(30))),
    rows, salt = 5, r => i => Array[Any](i.toLong, text(r, 5, 30)))

  final case class Landed(sum: Checksum.Sum, sha256: String)

  private def hex(d: MessageDigest): String = d.digest().map("%02x".format(_)).mkString

  private def digestRow(d: MessageDigest, t: Table, row: Array[Any]): Unit = {
    val b = java.nio.ByteBuffer.allocate(8 * row.length)
    var i = 0
    while (i < row.length) { b.putLong(Checksum.value(t.cols(i).kind, row(i))); i += 1 }
    d.update(b.array())
  }

  /** Checksum and SHA-256 of the row stream, without landing it. */
  def describe(t: Table, seed: Long): Landed = {
    val d = MessageDigest.getInstance("SHA-256")
    var s = 0L
    t.iterator(seed).foreach { row => s += t.sum(row); digestRow(d, t, row) }
    Landed(Checksum.Sum(t.rows, s), hex(d))
  }

  // ---- Derby ----------------------------------------------------------

  def derbyType(k: Kind): String = k match {
    case Kind.I64 => "BIGINT"
    case Kind.I32 | Kind.TimeMillis => "INT"
    case Kind.Dec2 => "DECIMAL(12,2)"
    case Kind.F64 => "DOUBLE"
    case Kind.Text(n) => s"VARCHAR($n)"
    case Kind.Char1 => "CHAR(1)"
    case Kind.Date => "DATE"
    case Kind.TsMicros => "TIMESTAMP"
    case Kind.Bytes16 => "CHAR(16) FOR BIT DATA"
  }

  def createDerbyTable(conn: java.sql.Connection, name: String, cols: Seq[Col],
      typeOf: Kind => String = derbyType): Unit = {
    val st = conn.createStatement()
    try st.execute(s"CREATE TABLE $name (" + cols.map(c =>
      s"${c.name} ${typeOf(c.kind)}" + (if (c.nullable) "" else " NOT NULL")).mkString(", ") + ")")
    finally st.close()
  }

  /** Land `t` into a new Derby table over plain JDBC batches; the row
    * stream's SHA-256 is the fixture hash. */
  def loadDerby(conn: java.sql.Connection, t: Table, seed: Long): Landed = {
    createDerbyTable(conn, t.name, t.cols)
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement(s"INSERT INTO ${t.name} VALUES (" +
      t.cols.map(_ => "?").mkString(", ") + ")")
    val d = MessageDigest.getInstance("SHA-256")
    var s = 0L
    var n = 0
    try t.iterator(seed).foreach { row =>
      var i = 0
      while (i < row.length) { bind(ps, i + 1, t.cols(i).kind, row(i)); i += 1 }
      ps.addBatch()
      s += t.sum(row); digestRow(d, t, row); n += 1
      if (n % 10000 == 0) ps.executeBatch()
      if (n % 100000 == 0) conn.commit()
    } finally {
      ps.executeBatch(); conn.commit(); ps.close(); conn.setAutoCommit(true)
    }
    Landed(Checksum.Sum(n, s), hex(d))
  }

  private def bind(ps: java.sql.PreparedStatement, i: Int, k: Kind, v: Any): Unit =
    if (v == null) ps.setNull(i, k match {
      case Kind.F64 => java.sql.Types.DOUBLE
      case Kind.Bytes16 => java.sql.Types.BINARY
      case _ => java.sql.Types.VARCHAR
    })
    else k match {
      case Kind.I64 => ps.setLong(i, v.asInstanceOf[Long])
      case Kind.I32 | Kind.TimeMillis => ps.setInt(i, v.asInstanceOf[Long].toInt)
      case Kind.Dec2 => ps.setBigDecimal(i, java.math.BigDecimal.valueOf(v.asInstanceOf[Long], 2))
      case Kind.F64 => ps.setDouble(i, v.asInstanceOf[Double])
      case _: Kind.Text | Kind.Char1 => ps.setString(i, v.asInstanceOf[String])
      case Kind.Date => ps.setDate(i, java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Long])))
      case Kind.TsMicros => ps.setTimestamp(i, new java.sql.Timestamp(v.asInstanceOf[Long] / 1000))
      case Kind.Bytes16 => ps.setBytes(i, v.asInstanceOf[Array[Byte]])
    }

  // ---- parquet --------------------------------------------------------

  def parquetSchema(t: Table): MessageType = new MessageType(t.name,
    t.cols.map { c =>
      val rep = if (c.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      val b = c.kind match {
        case Kind.I64 => Types.primitive(PrimitiveTypeName.INT64, rep)
        case Kind.I32 => Types.primitive(PrimitiveTypeName.INT32, rep)
        case Kind.Dec2 => Types.primitive(PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.decimalType(2, 12))
        case Kind.F64 => Types.primitive(PrimitiveTypeName.DOUBLE, rep)
        case _: Kind.Text | Kind.Char1 => Types.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType())
        case Kind.Date => Types.primitive(PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.dateType())
        case Kind.TsMicros => Types.primitive(PrimitiveTypeName.INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case Kind.TimeMillis => Types.primitive(PrimitiveTypeName.INT32, rep)
          .as(LogicalTypeAnnotation.timeType(false, LogicalTypeAnnotation.TimeUnit.MILLIS))
        case Kind.Bytes16 => Types.primitive(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, rep).length(16)
      }
      b.named(c.name): Type
    }: _*)

  /** Write `t` as one zstd parquet file with parquet-mr's example writer;
    * the file's SHA-256 is the fixture hash. */
  def writeParquet(path: Path, t: Table, seed: Long): Landed = {
    val schema = parquetSchema(t)
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(path.toString), conf))
      .withType(schema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.ZSTD)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val factory = new SimpleGroupFactory(schema)
    var s = 0L
    try t.iterator(seed).foreach { row =>
      val g = factory.newGroup()
      var i = 0
      while (i < row.length) {
        val v = row(i)
        if (v != null) t.cols(i).kind match {
          case Kind.I64 | Kind.Dec2 | Kind.TsMicros => g.add(i, v.asInstanceOf[Long])
          case Kind.I32 | Kind.Date | Kind.TimeMillis => g.add(i, v.asInstanceOf[Long].toInt)
          case Kind.F64 => g.add(i, v.asInstanceOf[Double])
          case _: Kind.Text | Kind.Char1 => g.add(i, v.asInstanceOf[String])
          case Kind.Bytes16 => g.add(i, Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
        }
        i += 1
      }
      w.write(g)
      s += t.sum(row)
    } finally w.close()
    Landed(Checksum.Sum(t.rows, s), sha256(path))
  }

  def sha256(p: Path): String = {
    val d = MessageDigest.getInstance("SHA-256")
    d.update(Files.readAllBytes(p))
    hex(d)
  }
}
