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
}
