package graft.operators

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Column, SparkSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.VectorOps

/** Persistent product-quantization index: the train-once / probe-many
  * split of s5 (the Sq8Index lifecycle applied to PQ — Jégou et al.,
  * PAPERS.md).
  *
  * The 64-dim vector splits into [[M]]=16 contiguous 4-dim subvectors;
  * each subspace trains its own [[Ks]]=16-centroid codebook (seeds by
  * deterministic hash rank, [[LloydPasses]] refinement — the IvfIndex
  * recipe per subspace, all M subspaces refined in ONE corpus pass per
  * Lloyd round via a position-exploded mean). A vector's code is then
  * M bytes — 16× smaller than float32 storage (16 vs 256 bytes), vs
  * SQ8's 4×. Artifacts:
  *
  *   codebooks/  M·Ks rows (m, c, centroid array<double>)   ≈ 8 KB
  *   codes/      (vec_id, code array<tinyint> length M)
  *
  * PROBE (every s5 execution): load the codebooks (model-sized driver
  * metadata, like the IVF centroids), precompute a per-QUERY lookup
  * table of subspace×centroid partial dots, and scan `codes/` scoring
  * each candidate with M array lookups ([[graft.functions.PqKernels]])
  * — asymmetric distance computation: the query never quantizes, so
  * quantization error enters each score once. Neither training nor
  * encoding happens on the probe path (PqSpec pins the plan).
  *
  * Like IvfIndex, the build is deterministic up to floating-point merge
  * order in the Lloyd means; [[IndexLifecycle]] fingerprints the corpus
  * listing and stages + atomically renames. */
object PqIndex {

  val Dim = 64
  /** Subspace count; [[Dim]]/M dims per subspace. M=16 × Ks=16 is 1 bit
    * per dimension (16 bytes/vector, 16× compression) — the M=8 variant
    * (0.5 bit/dim, 32×) measured recall@5 of 0.52 at sf0.1, below the
    * family floor; doubling the rate via MORE SUBSPACES (not bigger
    * codebooks) keeps training feasible on small corpora while the shape
    * stays the production one (Faiss PQ16x4-style). */
  val M = 16
  val SubDim: Int = Dim / M
  /** Centroids per subspace: 16 (4-bit codes stored as bytes) — sized to
    * the test corpora; production PQ uses 256 under the identical shape. */
  val Ks = 16
  val LloydPasses = 2
  private[operators] val FormatVersion = "v2"

  // ------------------------------------------------------------ quantizer

  /** Squared-distance array of subvector m to its Ks codebook entries via
    * the native dot kernel (argmin |c−x|² = argmin |c|² − 2c·x, the
    * IvfIndex identity per subspace). */
  private def subDists(books: Array[Array[Array[Double]]], m: Int): Column = {
    val sub = slice(col("embedding"), m * SubDim + 1, SubDim)
    array(books(m).map { c =>
      lit(c.map(x => x * x).sum) -
        lit(2.0) * VectorOps.dot(array(c.map(lit): _*), sub)
    }: _*)
  }

  private def subCluster(books: Array[Array[Array[Double]]], m: Int): Column = {
    val dd = subDists(books, m)
    (array_position(dd, array_min(dd)) - 1).cast("int")
  }

  /** The M-byte PQ code column for a trained model. */
  def codeCol(books: Array[Array[Array[Double]]]): Column =
    array((0 until M).map(m => subCluster(books, m).cast("byte")): _*)

  /** Train all M codebooks: Ks seed vectors by hash rank sliced into
    * subvectors, then [[LloydPasses]] rounds where ONE corpus pass
    * assigns every subspace and one position-exploded aggregate computes
    * all M·Ks·SubDim means (the collect is 1,024 doubles — model-sized).
    * Empty clusters keep their previous centroid. */
  private def train(s: SparkSession, d: String): Array[Array[Array[Double]]] = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val seedRows = e.orderBy(pmod(hash(col("vec_id")), lit(997)), col("vec_id"))
      .limit(Ks).select(col("embedding"))
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val seeds = Array.tabulate(M)(m =>
      seedRows.map(_.slice(m * SubDim, (m + 1) * SubDim)))
    (1 to LloydPasses).foldLeft(seeds) { (model, _) =>
      val cids = array((0 until M).map(m => subCluster(model, m)): _*)
      val refined = e.select(cids.as("cids"), posexplode(col("embedding")))
        .select(expr(s"CAST(pos div $SubDim AS INT)").as("m"), expr(s"pos % $SubDim").as("sd"),
          expr(s"cids[pos div $SubDim]").as("c"), col("col").cast("double").as("x"))
        .groupBy(col("m"), col("c"), col("sd")).agg(avg(col("x")).as("mu"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((m, c), rows) =>
          (m, c) -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
        }
      Array.tabulate(M)(m => Array.tabulate(Ks)(c =>
        refined.getOrElse((m, c), model(m)(c))))
    }
  }

  // ------------------------------------------------------------ lifecycle

  def indexDir(d: String): Path = IndexLifecycle.keyedDir(
    "SPARK_GRAFT_PQ_DIR", "graft-pq",
    Paths.get(d).resolve("embeddings.parquet"), s"$FormatVersion-m$M-k$Ks")

  def ensure(s: SparkSession, d: String): Path =
    IndexLifecycle.ensureBuilt(indexDir(d)) { staging =>
      val model = train(s, d)
      import s.implicits._
      (for { m <- 0 until M; c <- 0 until Ks }
        yield (m, c, model(m)(c).toSeq)).toDF("m", "c", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(staging.resolve("codebooks").toString)
      embeddings(s, d)
        .select(col("vec_id"), codeCol(model).as("code"))
        .write.mode("overwrite").parquet(staging.resolve("codes").toString)
    }

  /** The flat [m][c][dim] codebook array (M·Ks·SubDim doubles) — the
    * model shape [[graft.functions.PqKernels.pqLut]] consumes. */
  def loadBooksFlat(s: SparkSession, dir: Path): Seq[Double] =
    graft.sources.FooterSchema.read(s, dir.resolve("codebooks").toString)
      .orderBy(col("m"), col("c")).collect()
      .flatMap(_.getSeq[Double](2)).toSeq

  /** The nested [m][c] codebook model — the shape [[codeCol]] consumes
    * (used by IvfPqIndex to re-encode under the SAME trained books). */
  def loadBooks(s: SparkSession, dir: Path): Array[Array[Array[Double]]] = {
    val rows = graft.sources.FooterSchema.read(s, dir.resolve("codebooks").toString)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    Array.tabulate(M)(m => Array.tabulate(Ks)(c => rows((m, c))))
  }

  /** The persisted code table: (vec_id, code array<tinyint>). */
  def codes(s: SparkSession, dir: Path): DataFrame =
    graft.sources.FooterSchema.read(s, dir.resolve("codes").toString)
}
