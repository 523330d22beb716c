package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the data-lake maintenance operator every
  * 100 TB pipeline runs continuously: a directory of many small parquet
  * files (streaming micro-batches, over-parallel writes) is rewritten
  * into size-targeted files, byte-for-byte the same rows.
  *
  * Scale posture: the partition count is computed from the INPUT's actual
  * on-disk bytes over the target (compression ratio carries over since
  * the data is unchanged), the rewrite is one distributed job, and the
  * swap is atomic-by-rename within the output directory. No driver-side
  * row handling — only file metadata is inspected on the driver. */
object Compact {

  /** Rewrite `inDir`'s parquet files into ~`targetBytes` files at
    * `outDir`. Returns the files written. */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long,
      compression: String = "zstd"): Seq[Path] = {
    val inputBytes = listParquet(Paths.get(inDir)).map(Files.size).sum
    require(inputBytes > 0, s"no parquet input under $inDir")
    val nFiles = math.max(1L, (inputBytes + targetBytes - 1) / targetBytes).toInt
    val dest = Paths.get(outDir)
    Staging(dest.toAbsolutePath.getParent, ".graft-compact-") { staging =>
      val out = staging.resolve("out")
      FooterSchema.read(spark, inDir)
        .repartition(nFiles)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(out.toString)
      Staging.deleteRecursively(dest)
      Files.move(out, dest)
    }
    listParquet(dest)
  }

  private def listParquet(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Staging.listNames(dir)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .sorted.map(dir.resolve)
}
