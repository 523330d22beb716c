package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level conversion kernels that don't need a custom Expression —
  * compositions of codegen'd builtins (preference order (a) from the build
  * guide). Each mirrors a reference fetch-side strategy from SURVEY §2.2. */
object TypeKernels {

  /** Unsigned TINYINT widening (reference column_strategy.rs:145-154 emits
    * INT(8,false); Spark has no unsigned byte → widen to the 0..255 value).
    * Input: any integral column holding a signed-byte reinterpretation. */
  def unsignedTinyint(c: Column): Column =
    ((c.cast("int") % 256) + 256) % 256

  /** Variadic length-cap enforcement: the reference treats fetch-time
    * truncation as a hard error with a remediation hint, never silent
    * (conversion_strategy.rs:176-197). */
  def enforceLengthLimit(c: Column, limitBytes: Int): Column =
    when(octet_length(c) > limitBytes,
      raise_error(concat(
        lit(s"value exceeds column length limit $limitBytes; "),
        lit("re-run with a larger --column-length-limit"))))
      .otherwise(c)

  /** Fixed BINARY(n) semantics (reference binary.rs:32-89): each value is
    * zero-padded to n bytes, and a longer value is a contract violation
    * and errors. The sink pads before its encoder writes the column as
    * FIXED_LEN_BYTE_ARRAY(n): parquet-mr's FLBA dictionary and delta
    * writers take a value of any length and would corrupt the file. The
    * result is null exactly where `c` is; the closing `coalesce` tells the
    * planner so, and a NOT NULL column stays a required parquet column. */
  def padFixedBinary(c: Column, name: String, n: Int): Column =
    coalesce(when(octet_length(c) > n,
      raise_error(concat(lit(s"fixed BINARY($n) column '$name' received "),
        octet_length(c).cast("string"), lit(" bytes"))))
      .otherwise(rpad(c, n, Array[Byte](0))), c)

  /** Lossy UTF-8 sanitation (reference text.rs:148-163): decoding invalid
    * bytes yields U+FFFD replacement chars rather than failing the fetch
    * (JVM String REPLACE mode == Rust from_utf8_lossy; Spark's builtin
    * `decode` hard-errors under ANSI, so this is a native expression). */
  def utf8Lossy(bytes: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(Utf8Lossy(GraftBridge.expression(bytes)))
  }

  /** UTF-16 → UTF-8 text path (reference text.rs:28-93): JVM strings are
    * UTF-16 native, so the conversion is a charset round-trip. */
  def utf16Roundtrip(c: Column): Column =
    decode(encode(c, "UTF-16"), "UTF-16")

  /** Decimal-as-text fallback (p>38 or --avoid-decimal with scale≠0,
    * reference decimal.rs:36-40,125-133). */
  def decimalText(c: Column, p: Int, s: Int): Column =
    c.cast(s"decimal($p,$s)").cast("string")

  /** --avoid-decimal scale-0 path: plain integers (decimal.rs:42-57). */
  def avoidDecimalInt(c: Column, p: Int): Column =
    if (p <= 9) c.cast("decimal(9,0)").cast("int")
    else c.cast("decimal(18,0)").cast("long")

  /** --driver-does-not-support-64bit-integers fetch path (reference
    * decimal.rs:87-109, `DecimalTextToInteger<Int64Type>`): large integers
    * are fetched as TEXT and parsed back to i64 by the tool, because some
    * drivers (Oracle) cannot bind 64-bit integer buffers. The text
    * round-trip is real — render, then parse through Spark's decimal text
    * parser — so the output is identical and only the fetch strategy
    * differs, exactly the reference contract ("will not affect the
    * output, but may incur a performance penalty"). */
  def decimalTextToI64(c: Column, p: Int): Column =
    c.cast(s"decimal($p,0)").cast("string").cast(s"decimal($p,0)")

  /** Nanosecond-timestamp range guard (reference timestamp_precision.rs:48-81
    * errors outside the INT64-nanos representable years 1677–2262). Input is
    * epoch micros (Spark's native unit); the checked conversion errors with
    * the same remediation bounds the reference prints. */
  val NanoMinMicros: Long = Long.MinValue / 1000 // ≈ 1677-09-21
  val NanoMaxMicros: Long = Long.MaxValue / 1000 // ≈ 2262-04-11
  def microsToNanosChecked(epochMicros: Column): Column =
    when(epochMicros.between(NanoMinMicros, NanoMaxMicros), epochMicros * 1000L)
      .otherwise(raise_error(lit(
        "timestamp out of range for nanosecond precision; supported range is 1677-09-21 to 2262-04-11")))
}
