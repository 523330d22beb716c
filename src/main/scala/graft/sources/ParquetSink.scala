package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** Parquet sink with the reference CLI's output contract.
  *
  * Reference semantics reproduced (`src/query/parquet_writer.rs`,
  * `src/query/current_file.rs`, `src/query/batch_size_limit.rs:45-55`):
  *  - exact output naming: a requested `out.par` is a FILE, not a Spark
  *    directory; split outputs are `out_01.par`, `out_02.par`, … with a
  *    zero-padded, extension-preserving `--suffix-length` suffix
  *    (parquet_writer.rs:232-250)
  *  - splitting by row groups per file (`--row-groups-per-file`) and/or a
  *    compressed byte threshold (`--file-size-threshold`)
  *  - `--no-empty-file`: an empty result yields no file at all; otherwise a
  *    schema-only file (parquet_writer.rs:117-121,156-158)
  *  - default compression zstd (main.rs:159-161); every row group holds at
  *    most one batch (`parquet.block.row.count.limit` = batch rows)
  *  - `-` streams a single parquet to stdout (parquet_writer.rs:192-230)
  *
  * Scale posture: fetching and encoding overlap ([[EncoderPool]]). Each
  * Spark write task reads its partition and cuts it into batches; a
  * JVM-wide pool of k encoders (k = the session's parallelism) writes
  * each batch as a one-row-group part into a staging directory (the
  * atomic-commit protocol replaces the reference's tempfile+persist crash
  * safety). At most k batches wait or encode per JVM, plus the one each
  * reading task fills: about k+1 batches of memory for a one-partition
  * source. The source's partitioning is kept and parts sort by (partition,
  * batch), so an ORDER BY result lands in order. The post-pass runs on the
  * driver with no Spark job. It reads the parts' footers once and bins
  * their row groups with the reference's rule: a file ends after the row
  * group that makes it hold `--row-groups-per-file` row groups or reach
  * `--file-size-threshold` compressed bytes. A bin that is one whole part
  * needing no fidelity retype is RENAMED; any other final file is written
  * once by [[PhysicalFormat.assembleSlices]], which appends the bin's row
  * groups as raw column chunks and re-encodes only BINARY → FLBA(n)
  * columns. Output files therefore keep the parts' row groups, codec,
  * level, writer version, dictionary choices, page indexes and footer
  * key-value metadata. One deviation remains: every task's last row group
  * may hold less than a batch, where the reference's single fetch loop
  * leaves only the result's last batch short, so a source with several
  * partitions can give more files than the reference. The non-split
  * single-file mode and stdout read through one task (`coalesce(1)`), like
  * the reference's single fetch loop, and still encode on k cores; an
  * empty result's schema-only file is the encoder's zero-row part.
  *
  * Every file write logs one INFO line (visible with `-v`) with what the
  * reference logs: batch rows, estimated bytes per row, files, row groups
  * and bytes written, and the seconds of the Spark write and the
  * post-pass; [[EncoderPool]] logs one more with the batches, the encoder
  * count and the seconds readers spent blocked on the pool.
  */
object ParquetSink {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.sources.ParquetSink")

  final case class Options(
      compression: String = "zstd",
      compressionLevel: Option[Int] = None, // zstd level, default 3 like the reference
      batchRows: Int = BatchSizeLimit.DefaultRows,
      rowGroupsPerFile: Int = 0,        // 0 = no row-count splitting
      fileSizeThresholdBytes: Long = 0, // 0 = no size splitting
      suffixLength: Int = 2,
      noEmptyFile: Boolean = false,
      /** parquet writer version: "v2" (PARQUET_2_0, reference parity) emits
        * delta encodings; "v1" enables per-column dictionary control */
      writerVersion: String = "v2",
      /** per-column dictionary-encoding toggle — the Spark-reachable subset
        * of the reference's `--parquet-column-encoding COL:ENC`
        * (main.rs:188-196); parquet-mr exposes encoding choice per column
        * only through the dictionary switch, and only the v1 writer honors
        * it (v2 always picks delta encodings) */
      columnDictionary: Map[String, Boolean] = Map.empty,
      /** hive-style partition columns (beyond-reference, the 100 TB layout
        * knob): output becomes a directory tree `col=value/…` and scans
        * with a predicate on these columns prune whole partitions. Mutually
        * exclusive with exact-file naming/splitting. */
      partitionByCols: Seq[String] = Seq.empty,
      /** the [[PhysicalFormat]] fidelity pass (FLBA(n) + parquet TIME
        * annotations, reference parity). TRADE-OFF, pinned in FooterSpec:
        * Spark's own reader rejects TIME-annotated columns
        * (PARQUET_TYPE_ILLEGAL) — exactly as it rejects the reference's
        * output — while DuckDB reads them as first-class TIME. Turn OFF
        * (CLI `--no-physical-fidelity`) when downstream is Spark: values
        * then stay plain INT32/INT64/BYTE_ARRAY with the `graft.*` field
        * metadata carrying the declared semantics. */
      physicalFidelity: Boolean = true)

  /** True when every timestamp column in `schema` is millis-tagged (declared
    * precision ≤ 3) — and there is at least one timestamp column. The sink
    * then writes TIMESTAMP(MILLIS), else TIMESTAMP(MICROS): the reference
    * (timestamp_precision.rs:17-31) picks the unit per column, Spark's
    * writer (`spark.sql.parquet.outputTimestampType`) only per file. */
  def allTimestampsMillis(schema: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ts = schema.fields.filter(f =>
      f.dataType == TimestampType || f.dataType == TimestampNTZType)
    ts.nonEmpty && ts.forall(f =>
      f.metadata.contains(graft.functions.TypeMapping.TimestampUnitKey) &&
        f.metadata.getString(graft.functions.TypeMapping.TimestampUnitKey) == "millis")
  }

  /** Write `df` to `outPath` (a file path like `out.par`, or `-` for
    * stdout). Returns the list of files written, in order. */
  def write(df: DataFrame, outPath: String, opts: Options = Options()): Seq[Path] = {
    // never write deprecated INT96 (Spark's legacy default for TimestampType)
    // — the reference always writes annotated INT64 (timestamp_precision.rs)
    val unit = if (allTimestampsMillis(df.schema)) "TIMESTAMP_MILLIS" else "TIMESTAMP_MICROS"
    val conf = df.sparkSession.conf
    val prevUnit = conf.getOption("spark.sql.parquet.outputTimestampType")
    conf.set("spark.sql.parquet.outputTimestampType", unit)
    try writeInner(df, outPath, opts)
    finally prevUnit match {
      case Some(v) => conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  private def writeInner(df: DataFrame, outPath: String, opts: Options): Seq[Path] = {
    val split = opts.rowGroupsPerFile > 0 || opts.fileSizeThresholdBytes > 0
    require(outPath != "-" || !split,
      "splitting into multiple files is not possible with stdout output" +
        " (reference main.rs:295-311)")
    if (opts.partitionByCols.nonEmpty) {
      require(!split && outPath != "-",
        "partitioned output is a directory tree; splitting/stdout do not apply")
      df.write.mode("overwrite")
        .option("compression", opts.compression)
        .partitionBy(opts.partitionByCols: _*)
        .parquet(outPath)
      return Seq(Paths.get(outPath))
    }

    // stage NEXT TO the destination, not in java.io.tmpdir: the post-pass
    // promotes files with Files.move, which is only a metadata rename when
    // source and target share a filesystem — a /tmp staging dir would turn
    // every promotion into a byte copy whenever the output lives elsewhere
    val parent =
      if (outPath == "-") Paths.get(System.getProperty("java.io.tmpdir"))
      else Option(Paths.get(outPath).toAbsolutePath.getParent).getOrElse(Paths.get("."))
    Staging(parent, ".graft-sink-")(writeStaged(df, outPath, opts, split, _))
  }

  /** The sink's write and post-pass inside its staging dir `staging`. */
  private def writeStaged(df: DataFrame, outPath: String, opts: Options,
      split: Boolean, staging: Path): Seq[Path] = {
    val options = Map(
      "compression" -> opts.compression,
      // PARQUET_2_0 writer parity by default (reference parquet_writer.rs:45-47)
      "parquet.writer.version" -> opts.writerVersion,
      // one fetch batch == one row group, whatever its bytes
      "parquet.block.row.count.limit" -> opts.batchRows.toString,
      "parquet.dictionary.page.size" -> PhysicalFormat.DictionaryPageSize.toString) ++
      opts.compressionLevel.map(l => "parquet.compression.codec.zstd.level" -> l.toString) ++
      opts.columnDictionary.map { case (c, on) => s"parquet.enable.dictionary#$c" -> on.toString }
    // one part per batch, named by (partition, seq), so parts sort in the
    // source's order and an ORDER BY result stays in order
    val started = System.nanoTime()
    EncoderPool.write(if (split) df else df.coalesce(1), staging, options,
      opts.batchRows, emptyFile = !opts.noEmptyFile)
    val sparkDone = System.nanoTime()

    val parts = Staging.listNames(staging)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sortBy(EncoderPool.partOrder).map(staging.resolve)
    // one footer pass over the parts: every row group, in output order
    val groups: Seq[RowGroup] = parts.flatMap { p =>
      val r = PhysicalFormat.reader(p)
      try r.getRowGroups.asScala.zipWithIndex.map { case (b, i) =>
        RowGroup(p, i, b.getCompressedSize)
      }.toSeq finally r.close()
    }
    val groupCount = groups.groupBy(_.part).view.mapValues(_.size).toMap

    // --no-empty-file writes nothing for a result without rows; any other
    // zero-row result is one schema-only file (parquet_writer.rs:117-121)
    val bins: Seq[Seq[RowGroup]] =
      if (groups.isEmpty) (if (opts.noEmptyFile) Seq.empty else Seq(Seq.empty))
      else if (split) binRowGroups(groups, opts.rowGroupsPerFile, opts.fileSizeThresholdBytes)
      else Seq(groups)

    // one pass per FINAL file, after the parallel write and before the
    // destination rename — so a crash mid-pass never leaves a half-written
    // file at the destination path: the bin's row groups are appended as
    // raw column chunks under the fidelity footer (FLBA(n) / TIME
    // annotations — see [[PhysicalFormat]]); a bin that is one whole part
    // needing no retype is renamed
    val retype = opts.physicalFidelity && PhysicalFormat.needed(df.schema)
    val encoding = PhysicalFormat.Encoding(opts.compression, opts.compressionLevel,
      opts.writerVersion, opts.columnDictionary)
    var bytes = 0L
    def finalFile(bin: Seq[RowGroup], n: Int): Path = {
      // an empty bin is the schema-only file: the pipeline's zero-row part
      val slices = if (bin.nonEmpty) sliced(bin) else Seq(PhysicalFormat.Slice(parts.head, 0 until 0))
      val file = slices match {
        case Seq(s) if !retype && s.rowGroups.size == groupCount.getOrElse(s.file, 0) => s.file
        case _ =>
          val out = staging.resolve(s"final-$n.parquet")
          PhysicalFormat.assembleSlices(slices, out,
            if (retype) PhysicalFormat.targetType(_, df.schema) else identity, encoding)
          out
      }
      bytes += Files.size(file)
      file
    }
    def promote(bin: Seq[RowGroup], n: Int, dest: Path): Path = {
      val merged = finalFile(bin, n)
      if (dest.getParent != null) Files.createDirectories(dest.getParent)
      Files.move(merged, dest, StandardCopyOption.REPLACE_EXISTING)
    }
    val outputs: Seq[Path] =
      if (bins.isEmpty) Seq.empty
      else if (outPath == "-") {
        Files.copy(finalFile(bins.head, 1), System.out)
        System.out.flush()
        Seq.empty
      } else if (bins.size == 1) Seq(promote(bins.head, 1, Paths.get(outPath)))
      else bins.zipWithIndex.map { case (bin, i) =>
        promote(bin, i + 1, Paths.get(suffixedPath(outPath, i + 1, opts.suffixLength)))
      }
    log.info(s"batch ${opts.batchRows} rows, estimated " +
      s"${BatchSizeLimit.bytesPerRow(df.schema)} bytes per row; wrote ${bins.size} files, " +
      s"${bins.map(_.size).sum} row groups, $bytes bytes; " +
      f"Spark write ${(sparkDone - started) / 1e9}%.2f s, " +
      f"post-pass ${(System.nanoTime() - sparkDone) / 1e9}%.2f s")
    outputs
  }

  /** `out.par` + n=3, len=2 → `out_03.par`; extension preserved; files
    * without extension get a bare suffix (parquet_writer.rs:232-250). */
  def suffixedPath(path: String, n: Int, suffixLength: Int): String = {
    val p = Paths.get(path)
    val name = p.getFileName.toString
    val dot = name.lastIndexOf('.')
    val (stem, ext) = if (dot > 0) (name.substring(0, dot), name.substring(dot)) else (name, "")
    val num = s"%0${suffixLength}d".format(n)
    val newName = s"${stem}_$num$ext"
    Option(p.getParent).map(_.resolve(newName).toString).getOrElse(newName)
  }

  /** One row group of a staged part: its index in the part and its
    * compressed bytes. */
  private final case class RowGroup(part: Path, index: Int, bytes: Long)

  /** The reference's split rule, applied after each row group
    * (`parquet_writer.rs:86-189`, `batch_size_limit.rs:45-55`): the current
    * file ends once it holds `rowGroupsPerFile` row groups or its row
    * groups' compressed bytes reach `threshold` (0 turns either rule off). */
  private def binRowGroups(groups: Seq[RowGroup], rowGroupsPerFile: Int,
      threshold: Long): Seq[Seq[RowGroup]] = {
    val bins = Seq.newBuilder[Seq[RowGroup]]
    var current = Vector.empty[RowGroup]
    var size = 0L
    groups.foreach { g =>
      current :+= g; size += g.bytes
      if ((rowGroupsPerFile > 0 && current.size >= rowGroupsPerFile) ||
          (threshold > 0 && size >= threshold)) {
        bins += current; current = Vector.empty; size = 0L
      }
    }
    if (current.nonEmpty) bins += current
    bins.result()
  }

  /** A bin's row groups as one slice per part (a part's groups in a bin
    * are consecutive). */
  private def sliced(bin: Seq[RowGroup]): Seq[PhysicalFormat.Slice] =
    bin.map(_.part).distinct.map { p =>
      val in = bin.filter(_.part == p)
      PhysicalFormat.Slice(p, in.head.index to in.last.index)
    }
}
