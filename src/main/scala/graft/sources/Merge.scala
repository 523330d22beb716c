package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key-based merge (CDC upsert/delete) into parquet — the maintenance
  * primitive a lake pipeline runs between full rewrites: apply a changeset
  * (upserts + deletes) to a base table and produce the merged snapshot.
  *
  * Semantics (one changeset row per key wins over base):
  *   - changeset row with `_deleted = false` REPLACES the base row (or
  *     inserts if absent)
  *   - changeset row with `_deleted = true` DROPS the base row
  *   - base rows with no changeset entry pass through
  *
  * Scale posture: one shuffle on the merge key for the left-anti
  * (base minus changed keys) plus the changeset's own scan — both sides
  * aggregate/join on the key only, no row multiplication. When the
  * changeset is small (the common CDC case) Catalyst broadcasts it and
  * the base table never shuffles at all. The snapshot write is a plain
  * parallel parquet write; pair with [[Compact]] for file sizing.
  */
object Merge {

  /** Returns the merged snapshot (lazy; caller writes/sinks it).
    *
    * Malformed changesets are normalized/rejected rather than silently
    * applied: a NULL `_deleted` means "not a delete" (coalesced to false —
    * otherwise the row would be dropped from upserts by the NULL predicate
    * yet still anti-join its key out of base: silent data loss), and a
    * changeset with two rows for one key either resolves by `seqCol`
    * (highest sequence wins — the CDC log-offset contract) or, with no
    * sequence column, fails at materialization via `raise_error` instead
    * of emitting duplicate rows. The validation window runs on the
    * changeset only (small in CDC), never on base. */
  def merge(base: DataFrame, changes: DataFrame, key: String,
      seqCol: Option[String] = None): DataFrame = {
    val dataCols = base.columns.filter(_ != key)
    require(changes.columns.contains("_deleted"),
      "changeset must carry a boolean _deleted column")
    val norm = changes.withColumn("_deleted",
      coalesce(col("_deleted").cast("boolean"), lit(false)))
    val oneRowPerKey = seqCol match {
      case Some(sc) =>
        // Tiebreaker: two changeset rows tied on the highest sequence value
        // would otherwise be resolved by partition-internal row order —
        // nondeterministic across runs/shuffles. Hashing the full row makes
        // the winner a pure function of row content.
        val w = Window.partitionBy(col(key))
          .orderBy(col(sc).desc, xxhash64(norm.columns.map(col): _*).asc)
        norm.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      case None =>
        val w = Window.partitionBy(col(key))
        norm.withColumn("_cnt", count(lit(1)).over(w))
          .withColumn(key,
            when(col("_cnt") > 1, raise_error(concat(
              lit(s"Merge: duplicate changeset rows for key $key="),
              col(key).cast("string"),
              lit("; pass seqCol to resolve by sequence"))))
              .otherwise(col(key)))
          .drop("_cnt")
    }
    val changedKeys = oneRowPerKey.select(col(key))
    val survivors = base.join(changedKeys, Seq(key), "left_anti")
    val upserts = oneRowPerKey.filter(!col("_deleted"))
      .select(col(key) +: dataCols.map(col): _*)
    survivors.unionByName(upserts)
  }

  /** Merge and materialize to parquet, returning the snapshot reader. */
  def mergeToParquet(
      s: SparkSession, base: DataFrame, changes: DataFrame,
      key: String, outPath: String,
      seqCol: Option[String] = None): DataFrame = {
    merge(base, changes, key, seqCol).write.mode("overwrite").parquet(outPath)
    FooterSchema.read(s, outPath)
  }
}
