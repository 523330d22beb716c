package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Scan-width guard for compute-dense per-row kernels (minhash/shingle
  * signatures, CDC boundary hashing, tokenize+sort interning): these are
  * CPU-bound, not byte-bound, so the scan's split count — not the data
  * volume — is their parallelism ceiling. A corpus stored in few files
  * gives the scan fewer splits than cores and the kernel runs
  * near-serial on any cluster: the ×30 scale probe measured m8's CDC
  * kernel at scaling exponent 1.03 and d4's signature build dominating
  * a one-task stage before this guard existed.
  *
  * [[wide]] hash-repartitions on a caller-supplied high-cardinality key
  * ONLY when the scan yields fewer partitions than the configured
  * shuffle width — a plan-time check, no job. At warehouse file counts
  * the scan is already wider and this is the identity, so corpus bytes
  * are never shuffled where parallelism is already free. */
object Scans {
  /** The session's shuffle width — the single source every explicit
    * repartition in the engine reads (d3/d22's pair-verify probes, the
    * width guards, m10's band join), so a future change to the width
    * policy lands in one place. */
  def targetWidth(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** `key` should be a high-cardinality column (doc_id): the keyed
    * repartition spreads rows without round-robin's local full-row
    * binary sort (`sortBeforeRepartition` retry determinism), which
    * would otherwise sort every text payload in the shuffle write. */
  def wide(s: SparkSession, df: DataFrame, key: Column): DataFrame =
    if (df.rdd.getNumPartitions < targetWidth(s)) df.repartition(targetWidth(s), key)
    else df

  /** Read-back of a just-written, UNPARTITIONED parquet artifact without
    * the Spark-job-backed schema inference pass (round 16): the schema
    * comes from ONE footer read on the driver
    * ([[org.apache.spark.sql.GraftBridge.parquetSchemaOf]], ~2 ms vs
    * ~100 ms measured for inference) — exact for Spark-written files,
    * whose footers carry the original StructType. NOT for
    * partitionBy-written directories (an explicit schema would have to
    * include the partition columns the footer doesn't carry) nor for
    * the encoding-fidelity gates, whose point is driving the standard
    * inference path over re-encoded physical types. */
  /** A/B toggle (round-17 drift adjudication): `SPARK_GRAFT_NO_INFER=false`
    * restores the Spark-job-backed inference read at every parquetNoInfer
    * call site, so the round-16 no-infer claims can be A/B'd under
    * driver conditions with everything else held constant. */
  private[graft] val noInferEnabled: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_NO_INFER", "true").toBoolean

  def parquetNoInfer(s: SparkSession, paths: String*): DataFrame = {
    if (!noInferEnabled) return s.read.parquet(paths: _*)
    // PRECONDITION: every path carries one identical schema — true for
    // the engine-written artifacts this serves (one frame shape per
    // write); paths.head's footer speaks for all of them.
    val first = {
      val p0 = java.nio.file.Paths.get(paths.head)
      if (java.nio.file.Files.isDirectory(p0)) {
        graft.sources.Staging.listNames(p0)
          // skip _metadata/_SUCCESS AND hidden dotfiles — parity with
          // SnapshotLog.sniffParquet (a stray ._foo.parquet must never
          // be the schema source)
          .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
          .map(p0.resolve(_).toString)
          .minOption
          .getOrElse(sys.error(s"no parquet files under ${paths.head}"))
      } else paths.head.toString
    }
    s.read.schema(org.apache.spark.sql.GraftBridge.parquetSchemaOf(s, first))
      .parquet(paths: _*)
  }
}
