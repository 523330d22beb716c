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

  /** Per-JVM parquet SCHEMA cache for the warehouse tables (round 16).
    *
    * `spark.read.parquet(path)` runs footer-based schema inference on
    * every call — measured ~90–160 ms per call on this machine vs ~8 ms
    * with an explicit schema (graft.tools.FloorProbe), and the bench
    * constructs each table scan fresh per warm/timed execution, so
    * inference alone re-ran thousands of times per suite. The cache
    * holds STRUCTURE only (StructType — never rows, files, or results):
    * every execution still lists, scans, and computes from the parquet
    * inputs, which is exactly what a production deployment does by
    * reading the schema from its metastore/manifest instead of
    * re-deriving it from footers per query. Keyed on the path + a
    * RECURSIVE (path, mtime, size) fingerprint of every file under it
    * (round 17: a nested part-file overwritten in place — same name,
    * new bytes — now misses the cache too; the former one-level
    * java.io.File listing could serve a stale schema for partitioned
    * dirs and degenerated to path-only keys on non-`file:` URIs) + the
    * reader confs that change what inference returns. The fingerprint
    * goes through the Hadoop FileSystem API, so any storage the session
    * can read (file:, hdfs:, s3a:) keys correctly — FileStatus carries
    * real mtime/len on object stores as well. Bounded: the cache clears
    * itself past [[SchemaCacheCap]] entries (per-run scratch artifacts
    * would otherwise grow it monotonically for the JVM's life). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
  private val SchemaCacheCap = 2048

  private def schemaKey(spark: SparkSession, path: String): String = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp = new StringBuilder(path).append('|')
    try {
      val st = fs.getFileStatus(hp)
      if (st.isDirectory) {
        // recursive file listing: (relative path, mtime, len) per file,
        // sorted for determinism
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        val it = fs.listFiles(hp, true)
        while (it.hasNext) {
          val f = it.next()
          entries += s"${f.getPath.toUri.getPath}:${f.getModificationTime}:${f.getLen}"
        }
        fp.append(entries.sorted.mkString(","))
      } else fp.append(st.getModificationTime).append(':').append(st.getLen)
    } catch {
      // missing path: key still forms; the compute's spark.read.parquet
      // raises the canonical error and computeIfAbsent caches nothing
      case _: java.io.FileNotFoundException => fp.append("missing")
    }
    // every conf that changes what parquet schema inference returns
    Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.parquet.binaryAsString",
      "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.caseSensitive")
      .foreach(c => fp.append('|')
        .append(spark.conf.getOption(c).getOrElse("")))
    fp.result()
  }

  /** Schema-cached parquet read for any STABLE artifact path (warehouse
    * tables, persisted index artifacts). The recursive fingerprint key
    * makes it correct for mutable paths too — any file change, nested
    * or not, misses — it just stops saving anything there. */
  def cachedParquet(spark: SparkSession, path: String): DataFrame = {
    if (schemaCache.size > SchemaCacheCap) schemaCache.clear()
    val schema = schemaCache.computeIfAbsent(schemaKey(spark, path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    cachedParquet(spark, s"$dir/$name.parquet")

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
