package graft.operators

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Persistent inverted (postings) index for keyword retrieval — the
  * build-once/probe-many split applied to t18's BM25 (the fourth persisted
  * index artifact after IVF/LSH/SQ8, same [[IndexLifecycle]] contract).
  *
  * BUILD (once per corpus): one exploded tokenization pass writes
  *
  *   postings/b=<bucket>/   (doc_id, tok, tf)   one row per (doc, term)
  *   docmeta/               (doc_id, len)       per-doc token counts
  *   stats/                 (nd, tt)            1-row corpus totals
  *
  * with postings PARTITIONED by `b = crc32(tok) mod Buckets` — the
  * directory-pruning analog of IVF's per-cluster lists: a probe computes
  * its terms' buckets DRIVER-SIDE (java.util.zip.CRC32 is exactly Spark's
  * `crc32`) and reads only those directories, so probe I/O is
  * O(probed posting lists), never a corpus scan. t18 re-explodes the whole
  * corpus per query; at 100 TB that is the difference between a search
  * serving path and a batch job.
  *
  * PROBE: union the query terms' posting lists (partition-pruned scan),
  * derive df per term from list length (a posting row IS a doc with
  * tf > 0), pivot to t18's per-doc tf columns by conditional aggregation,
  * join candidate docs to docmeta for lengths, and score with t18's exact
  * integer micro formula. Candidates are exactly the docs with at least
  * one query term, and every score>0 doc has one, so the result is
  * RESULT-IDENTICAL to t18 — the two share one oracle (the s1/s4 pattern:
  * the strongest claim an index-served query can make).
  */
object PostingsIndex {

  /** Partition fan-out of postings/. More buckets → finer pruning but more
    * directories; at cluster scale size so a bucket's lists fit an
    * executor's scan budget. Term-frequency skew (stopword lists) lands
    * whole lists in one bucket by design — a list is the pruning unit. */
  val Buckets = 64
  /** Bump when the layout or tokenization recipe changes. */
  private val FormatVersion = "v1"

  def indexDir(d: String): Path = IndexLifecycle.keyedDir(
    "SPARK_GRAFT_POSTINGS_DIR", "graft-postings",
    Paths.get(d).resolve("documents.parquet"), s"$FormatVersion-b$Buckets")

  /** t18's exact tokenization — the index must agree with the batch twin
    * on every count or the shared oracle breaks. */
  private def toks(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        explode(split(col("text"), "[^A-Za-z0-9]+")).as("raw"))
      .filter(col("raw") =!= "")
      .select(col("doc_id"), lower(col("raw")).as("tok"))

  /** The bucket a term's posting list lives in — computable both as a
    * Catalyst expression (build side) and driver-side on a literal term
    * (probe side): Spark's `crc32` IS java.util.zip.CRC32. */
  def bucketOf(tok: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    c.getValue % Buckets
  }

  /** Build the index if absent; returns its directory. */
  def ensure(s: SparkSession, d: String): Path =
    IndexLifecycle.ensureBuilt(indexDir(d)) { staging =>
      val t = toks(s, d)
      t.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .withColumn("b", pmod(crc32(col("tok")), lit(Buckets.toLong)))
        .repartition(col("b"))
        .write.partitionBy("b").mode("overwrite")
        .parquet(staging.resolve("postings").toString)
      t.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
        .write.mode("overwrite").parquet(staging.resolve("docmeta").toString)
      // corpus totals derived FROM docmeta so the two can never disagree
      s.read.parquet(staging.resolve("docmeta").toString)
        .agg(count(lit(1)).as("nd"), sum(col("len")).as("tt"))
        .write.mode("overwrite").parquet(staging.resolve("stats").toString)
    }

  /** The pruned posting-list scan for a term set — separate so the spec can
    * audit PartitionFilters on it. */
  private[graft] def lists(s: SparkSession, dir: Path, terms: Seq[String]): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    graft.sources.FooterSchema.read(s, dir.resolve("postings").toString)
      .filter(col("b").isin(buckets: _*) && col("tok").isin(terms: _*))
  }

  /** Top-k BM25 (t18's exact integer formula) served from the index. */
  def topK(s: SparkSession, d: String, terms: Seq[String], k: Int): DataFrame = {
    val dir = ensure(s, d)
    val l = lists(s, dir, terms)
    // df per term from list length; folded with the 1-row stats into one
    // model-sized broadcast row (|terms| + 1 source rows)
    val dfAggs = terms.map(t =>
      sum(when(col("tok") === t, lit(1L)).otherwise(lit(0L))).as(s"df_$t"))
    val statsWide = graft.sources.FooterSchema.read(s, dir.resolve("stats").toString)
      .crossJoin(l.select(col("tok")))
      .groupBy(col("nd"), col("tt"))
      .agg(dfAggs.head, dfAggs.tail: _*)
    val tfAggs = terms.map(t =>
      sum(when(col("tok") === t, col("tf")).otherwise(lit(0L))).as(s"tf_$t"))
    val cand = l.groupBy(col("doc_id")).agg(tfAggs.head, tfAggs.tail: _*)
    val termScore = terms.map { t =>
      expr(s"((2*nd - 2*df_$t + 1) * 1000000 div (2*df_$t + 1)) * " +
        s"((22000000 * tf_$t * tt) div (10*tt*tf_$t + 3*tt + 9*len*nd)) " +
        "div 1000000")
    }.reduce(_ + _)
    cand.join(graft.sources.FooterSchema.read(s, dir.resolve("docmeta").toString), "doc_id")
      .crossJoin(broadcast(statsWide))
      .select(col("doc_id"), termScore.as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
