package graft.functions

import org.apache.spark.sql.types._

/** Result-set schema derivation: source column metadata → Spark StructType.
  *
  * Re-expresses the reference's per-column strategy selection
  * (`src/query/column_strategy.rs:73-222`, decimal tree
  * `src/query/decimal.rs:23-135`, schema derivation
  * `src/query/conversion_strategy.rs:30-88`) as a pure decision tree over a
  * JDBC-ish column description. Spark's Parquet writer then realizes the
  * physical mapping (INT32/INT64/BYTE_ARRAY/…) from the logical StructType.
  *
  * Where Spark's type system lacks a direct analog, the choice + rationale:
  *  - unsigned TINYINT → ShortType (widen; Spark has no unsigned integers)
  *  - TIME(p) → IntegerType millis (p≤3) / LongType micros-or-nanos, tagged
  *    with `graft.time.unit` metadata (Spark has no TIME type)
  *  - TIMESTAMP(p≥7) → LongType epoch-nanos + metadata (TimestampType tops
  *    out at micros; truncation would break reference parity)
  *  - DECIMAL(p>38) → StringType (reference stores text; Spark max p=38)
  */
object TypeMapping {

  sealed trait SqlType
  case object SqlBit extends SqlType
  case object SqlTinyInt extends SqlType
  case object SqlSmallInt extends SqlType
  case object SqlInteger extends SqlType
  case object SqlBigInt extends SqlType
  case object SqlReal extends SqlType
  /** FLOAT(p): p≤24 single, p>24 double (reference column_strategy.rs:110-115). */
  final case class SqlFloat(precision: Int) extends SqlType
  case object SqlDouble extends SqlType
  case object SqlDate extends SqlType
  final case class SqlDecimal(precision: Int, scale: Int) extends SqlType
  final case class SqlTimestamp(precision: Int) extends SqlType
  /** MSSQL DATETIMEOFFSET — instant semantics (UTC-adjusted). */
  final case class SqlTimestampTz(precision: Int) extends SqlType
  /** MSSQL TIME(p) — time of day since midnight. */
  final case class SqlTime(precision: Int) extends SqlType
  final case class SqlChar(length: Int) extends SqlType
  final case class SqlVarchar(length: Int) extends SqlType
  final case class SqlWChar(length: Int) extends SqlType
  final case class SqlWVarchar(length: Int) extends SqlType
  final case class SqlBinary(length: Int) extends SqlType
  final case class SqlVarbinary(length: Int) extends SqlType
  /** Unknown type — falls back to display-size text (column_strategy.rs:224-239). */
  final case class SqlOther(displaySize: Int) extends SqlType

  final case class SourceColumn(
      name: String,
      sqlType: SqlType,
      nullable: Boolean = true,
      unsigned: Boolean = false)

  final case class MappingOptions(
      avoidDecimal: Boolean = false,
      preferVarbinary: Boolean = false,
      columnLengthLimit: Int = 4096,
      driverSupports64Bit: Boolean = true)

  /** Metadata keys carried on StructField (logical annotations Spark lacks). */
  val TimeUnitKey = "graft.time.unit"          // "millis" | "micros" | "nanos"
  val TimestampNanosKey = "graft.timestamp.nanos" // epoch-nanos long
  /** declared-precision physical unit (timestamp_precision.rs:17-31):
    * "millis" for p≤3, "micros" for p≤6 — ParquetSink picks the parquet
    * physical unit from it (per-file, see ParquetSink.allTimestampsMillis) */
  val TimestampUnitKey = "graft.timestamp.unit"
  val FixedLenKey = "graft.binary.fixedLength" // BINARY(n) declared width
  val TextLimitKey = "graft.text.limit"        // clamped variadic byte length

  def fields(cols: Seq[SourceColumn], opts: MappingOptions = MappingOptions()): StructType = {
    require(cols.nonEmpty,
      "query came back with zero columns — nothing to write (reference conversion_strategy.rs:69-71)")
    StructType(cols.zipWithIndex.map { case (c, i) =>
      val named = if (c.name == null || c.name.isEmpty) c.copy(name = s"Column${i + 1}") else c
      field(named, opts)
    })
  }

  def field(c: SourceColumn, opts: MappingOptions): StructField = {
    val mb = new MetadataBuilder()
    val dt: DataType = c.sqlType match {
      case SqlBit => BooleanType
      case SqlTinyInt => if (c.unsigned) ShortType else ByteType
      case SqlSmallInt => ShortType
      case SqlInteger => if (c.unsigned) LongType else IntegerType
      case SqlBigInt => LongType
      case SqlReal => FloatType
      case SqlFloat(p) => if (p <= 24) FloatType else DoubleType
      case SqlDouble => DoubleType
      case SqlDate => DateType
      case SqlDecimal(p, s) => decimalType(p, s, opts)
      case SqlTimestamp(p) =>
        if (p <= 3) { mb.putString(TimestampUnitKey, "millis"); TimestampNTZType }
        else if (p <= 6) { mb.putString(TimestampUnitKey, "micros"); TimestampNTZType }
        else { mb.putBoolean(TimestampNanosKey, value = true); LongType }
      case SqlTimestampTz(_) => TimestampType
      case SqlTime(p) =>
        if (p <= 3) { mb.putString(TimeUnitKey, "millis"); IntegerType }
        else if (p <= 6) { mb.putString(TimeUnitKey, "micros"); LongType }
        else { mb.putString(TimeUnitKey, "nanos"); LongType }
      case SqlChar(len) => textType(len, opts, mb)
      case SqlVarchar(len) => textType(len, opts, mb)
      case SqlWChar(len) => textType(len, opts, mb)
      case SqlWVarchar(len) => textType(len, opts, mb)
      case SqlBinary(len) =>
        if (!opts.preferVarbinary) mb.putLong(FixedLenKey, len.toLong)
        BinaryType
      case SqlVarbinary(_) => BinaryType
      case SqlOther(_) => StringType
    }
    StructField(c.name, dt, c.nullable, mb.build())
  }

  /** Decimal decision tree (reference decimal.rs:23-135):
    * p≤9 → INT32-backed, p≤18 → INT64-backed, p≤38 → FLBA i128 — all
    * DecimalType in Spark (the writer picks the physical encoding);
    * p>38 → text. avoid-decimal: scale 0 becomes plain integers, scale≠0
    * becomes text. The Oracle workaround (no 64-bit fetch) changes only the
    * fetch path, not the logical type. */
  private def decimalType(p: Int, s: Int, opts: MappingOptions): DataType =
    if (opts.avoidDecimal) {
      if (s == 0 && p <= 9) IntegerType
      else if (s == 0 && p <= 18) LongType
      else StringType
    } else if (p > 38) StringType
    else DecimalType(p, s)

  /** Apply the mapping options to an already-loaded DataFrame — the
    * query-path realization of the CLI knobs for sources whose schema Spark
    * derived itself (parquet tables, JDBC):
    *  - avoid-decimal: scale-0 decimals → int/long, others → text
    *    (decimal.rs:36-57)
    *  - DECIMAL(p>38) can't occur in Spark schemas (cap is 38)
    *  - column-length-limit: string columns are length-CHECKED, erroring on
    *    overflow like the reference's fetch-time truncation error. */
  def applyOptions(df: org.apache.spark.sql.DataFrame, opts: MappingOptions): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case dt: DecimalType if opts.avoidDecimal =>
          if (dt.scale == 0 && dt.precision <= 9) col(f.name).cast(IntegerType).as(f.name)
          else if (dt.scale == 0 && dt.precision <= 18) col(f.name).cast(LongType).as(f.name)
          else col(f.name).cast(StringType).as(f.name)
        // --driver-does-not-support-64bit-integers: i64-backed decimals go
        // through the text fetch + tool-side parse (decimal.rs:87-109);
        // logical output type is unchanged by contract
        case dt: DecimalType
            if !opts.driverSupports64Bit && dt.scale == 0 &&
              dt.precision >= 10 && dt.precision <= 18 =>
          TypeKernels.decimalTextToI64(col(f.name), dt.precision).as(f.name)
        // int64 spans 19 digits (±9.2e18); decimal(20,0) holds the full
        // range — decimal(18,0) would NULL any |v| >= 1e18 on the text path
        case LongType if !opts.driverSupports64Bit =>
          TypeKernels.decimalTextToI64(col(f.name), 20).cast(LongType).as(f.name)
        case StringType if opts.columnLengthLimit > 0 =>
          TypeKernels.enforceLengthLimit(col(f.name), opts.columnLengthLimit).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Variadic length clamp (reference column_strategy.rs:100-107): declared
    * length 0 (VARCHAR(MAX)) or above the limit is capped at
    * `columnLengthLimit`; the cap is recorded in field metadata. Overflow at
    * read time is a hard error, not silent truncation — see
    * [[TypeKernels.enforceLengthLimit]]. */
  private def textType(len: Int, opts: MappingOptions, mb: MetadataBuilder): DataType = {
    val effective = if (len <= 0 || len > opts.columnLengthLimit) opts.columnLengthLimit else len
    mb.putLong(TextLimitKey, effective.toLong)
    StringType
  }
}
