package graft.operators

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.VectorOps

/** Persistent LSH signature table: the sign-once / probe-many split of s2
  * (the s3/IvfIndex template applied to random-hyperplane LSH, round-6
  * verdict item #2).
  *
  * BUILD (once per corpus): compute every vector's 32-bit random-
  * hyperplane signature (32 native dot products per vector — the
  * expensive part of LSH) plus its squared norm, and persist
  *
  *   signatures/   (vec_id, embedding, n2, sig)   one row per vector
  *
  * PROBE (every s2 execution): read `signatures/` and derive the 8×4-bit
  * band values by bit ops (shift+mask — pennies next to the 32×64-mult
  * signature). Neither side of the candidate join touches the raw
  * embeddings table or recomputes a hyperplane product; LshSpec pins
  * both (no embeddings.parquet scan in the probe plan).
  *
  * The signature row carries the embedding + norm so exact rescoring of
  * candidates also reads only the index — one artifact serves candidate
  * generation and rescoring.
  *
  * Since round 8 the artifact ALSO materializes the exploded band rows as
  *
  *   banded/       (vec_id, embedding, n2, i, v)   BUCKETED on (i, v)
  *
  * written through `bucketBy(Buckets, "i", "v").sortBy(...)` so the
  * candidate join serves with ZERO exchanges on either side (the
  * e7_bucketed layout investment applied to ANN serving — both join sides
  * read the same bucketed table, so their partitioning is compatible by
  * construction). The octupled storage is the explicit price of removing
  * the per-probe (band, value) shuffle: at 100 TB the banded table is the
  * ANN serving layout (posting lists), the unexploded `signatures/` the
  * compact archival one — the same split real ANN systems make. Bucket
  * metadata lives in the catalog, not the files, so [[bandedTable]]
  * re-registers the location as an external CLUSTERED BY table
  * (idempotent, location-keyed name) in whatever session probes it.
  *
  * Lifecycle is [[IndexLifecycle]]: recursive-listing corpus fingerprint
  * (an in-place rewrite misses, never serves stale signatures), staging +
  * atomic rename, deterministic rebuild (fixed-seed hyperplanes).
  */
object LshIndex {

  val NPlanes = 32
  val Dim = 64
  val Bands = 8
  val BandBits = 4
  /** Bucket count of `banded/` — both sides of the candidate join inherit
    * this partitioning, so it bounds probe parallelism; scale with the
    * cluster (coarse buckets split fine via AQE, but too few buckets cap
    * the join's width). */
  val Buckets = 8
  /** Bump when the layout or signature recipe changes: stale indexes from
    * older code are simply never found. */
  private val FormatVersion = "v2"

  def indexDir(d: String): Path = IndexLifecycle.keyedDir(
    "SPARK_GRAFT_LSH_DIR", "graft-lsh",
    Paths.get(d).resolve("embeddings.parquet"), s"$FormatVersion-p$NPlanes")

  /** Build the signature table and its bucketed banded twin if absent;
    * returns the index directory. */
  def ensure(s: SparkSession, d: String): Path =
    IndexLifecycle.ensureBuilt(indexDir(d)) { staging =>
      val planes = VectorOps.hyperplanes(nPlanes = NPlanes, dim = Dim)
      embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          VectorOps.norm2(col("embedding")).as("n2"),
          VectorOps.lshSignature(col("embedding"), planes).as("sig"))
        .write.mode("overwrite").parquet(staging.resolve("signatures").toString)
      // the serving layout: band rows bucketed on the join key. Bucketed
      // writes only exist through the catalog, so stage via a throwaway
      // external table name and drop it (files stay; the probe re-registers
      // the published location)
      val tmpName = "graft_lsh_build_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      try {
        banded(s.read.parquet(staging.resolve("signatures").toString))
          .write.format("parquet")
          .bucketBy(Buckets, "i", "v").sortBy("i", "v")
          .option("path", staging.resolve("banded").toString)
          .mode("overwrite").saveAsTable(tmpName)
      } finally s.sql(s"DROP TABLE IF EXISTS $tmpName")
    }

  /** The persisted signature table: (vec_id, embedding, n2, sig). */
  def signatures(s: SparkSession, dir: Path): DataFrame =
    graft.sources.FooterSchema.read(s, dir.resolve("signatures").toString)

  /** The persisted BUCKETED band table at `dir`, registered in the session
    * catalog (idempotent; name keyed on the location so a different corpus
    * fingerprint gets a different table). Bucket ids live in the part-file
    * names, so declaring an external CLUSTERED BY table over the published
    * files restores the bucketing Spark wrote at build time — a join of two
    * reads of this table on (i, v) plans with zero exchanges. */
  def bandedTable(s: SparkSession, dir: Path): DataFrame = {
    val loc = dir.resolve("banded").toAbsolutePath
    // md5 prefix, not a 32-bit hash: a name collision across locations
    // would silently serve the WRONG corpus's table; 48 bits of location
    // fingerprint puts that beyond reach for any plausible index count
    val name = "graft_lsh_banded_" + java.security.MessageDigest
      .getInstance("MD5")
      .digest(loc.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"${b & 0xff}%02x").mkString
    if (!s.catalog.tableExists(name)) {
      val schemaDdl = s.read.parquet(loc.toString).schema.toDDL
      s.sql(s"CREATE TABLE IF NOT EXISTS $name ($schemaDdl) USING PARQUET " +
        s"CLUSTERED BY (i, v) SORTED BY (i, v) INTO $Buckets BUCKETS " +
        s"LOCATION '$loc'")
    }
    // a rebuild at the same fingerprinted path replaces part files in
    // place from the catalog's point of view — drop any cached listing
    s.catalog.refreshTable(name)
    s.table(name)
  }

  /** Explode a signature frame to its [[Bands]]×[[BandBits]]-bit band rows
    * (i, v) — shift+mask only, shared by the s2 probe and the bucketed-
    * serving demonstration in LshSpec. */
  def banded(sigs: DataFrame): DataFrame =
    sigs.withColumn("band", explode(array(
      (0 until Bands).map(b => struct(lit(b).as("i"),
        shiftright(col("sig"), BandBits * b)
          .bitwiseAND((1 << BandBits) - 1).as("v"))): _*)))
      .select(col("vec_id"), col("embedding"), col("n2"),
        col("band.i"), col("band.v"))
}
