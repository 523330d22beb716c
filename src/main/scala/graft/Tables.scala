package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Scale posture: every loader returns a lazy DataFrame scan — no caching, no
  * collect — so the same query code runs unchanged whether the directory holds
  * 6k rows (sf0.001) or 100 TB on a real cluster. Filters/projections applied
  * downstream reach the parquet scan via Catalyst pushdown.
  */
object Tables {

  /** The table `name`, its schema read from one footer
    * ([[graft.sources.FooterSchema]]) instead of Spark's inference job:
    * the bench builds each scan anew per run. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.FooterSchema.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** `events.parquet` has shipped with two `ts` encodings across testdata
    * generations — parquet TIMESTAMP(NANOS) (surfaced as a raw nanosecond
    * Long via `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS)
    * (surfaced as TimestampType; `inferTimestampNTZ` is disabled so the
    * isAdjustedToUTC=false flavor also lands on TimestampType with the raw
    * stored micros, matching DuckDB's `epoch_us(ts)`). The loader sniffs the
    * loaded schema and normalizes BOTH to one contract every downstream
    * consumer relies on:
    *
    *   - `ts_ns: Long`      — exact epoch nanoseconds
    *   - `ts: Timestamp`    — micros-precision event time
    *
    * Nanos source: `ts div 1000` stays in integer arithmetic (a double
    * division would lose precision above 2^53 ns). Micros source:
    * `unix_micros(ts) * 1000` — exact, no truncation, and `ts_ns div 1000`
    * recovers the stored micros bit-for-bit, so micros-truncation semantics
    * are identical on either path. Column order is normalized to the legacy
    * layout (`ts_ns` in the original ts slot, `ts` appended) so positional
    * consumers see one shape.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(t(Session.pin(spark), dir, "events"))

  /** Schema-sniffing normalization shared by the batch loader and the
    * streaming feed reader: any frame with a `ts` column in one of the known
    * encodings → the (`ts_ns` Long nanos, `ts` Timestamp micros) contract. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) flavor (or a staged nanos-long feed)
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampType | TimestampNTZType =>
        // NTZ only appears if the inferTimestampNTZ override didn't reach the
        // scan (defensive); sessions pin UTC, so the cast is the identity on
        // the stored micros.
        val norm =
          if (raw.schema("ts").dataType == TimestampNTZType)
            raw.withColumn("ts", col("ts").cast(TimestampType))
          else raw
        val legacyOrder = raw.columns.map {
          case "ts" => (unix_micros(col("ts")) * lit(1000L)).as("ts_ns")
          case c    => col(c)
        } :+ col("ts")
        norm.select(legacyOrder.toIndexedSeq: _*)
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — " +
          "expected TIMESTAMP(NANOS)-as-long or TIMESTAMP(MICROS); " +
          "update Tables.normalizeEventTs for the new testdata encoding")
    }
  }
}
