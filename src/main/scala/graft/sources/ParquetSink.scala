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
  * Scale posture: Spark tasks write part files in parallel into a staging
  * directory (atomic-commit protocol replaces the reference's
  * tempfile+persist crash safety). The post-pass runs on the driver with
  * no Spark job: a final file made of one part that needs no fidelity
  * retype is RENAMED; any other final file (a split bin of several parts,
  * or a file needing FLBA/TIME fidelity) is written once by
  * [[PhysicalFormat.assemble]], which appends the parts' row groups as raw
  * column chunks and re-encodes only BINARY → FLBA(n) columns. Output files
  * therefore keep the parts' row groups, codec, level, writer version,
  * dictionary choices, page indexes and footer key-value metadata. The
  * non-split single-file mode writes through one task (`coalesce(1)`),
  * like the reference's single-process writer. On a cluster you'd leave
  * splitting on and skip single-file mode; the semantics knobs are what
  * parity requires.
  */
object ParquetSink {

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
      /** parquet TIMESTAMP physical unit (reference
        * timestamp_precision.rs:17-31 writes MILLIS for p≤3, MICROS for
        * p≤6): "micros" | "millis" | "auto". The unit is per-FILE in
        * Spark's writer (`spark.sql.parquet.outputTimestampType`), not
        * per-column like the reference's — "auto" picks MILLIS exactly
        * when every timestamp column is tagged `graft.timestamp.unit =
        * millis` by TypeMapping (i.e. every declared precision ≤ 3),
        * falling back to MICROS on any mix. */
      timestampUnit: String = "auto",
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
    * precision ≤ 3) — and there is at least one timestamp column. */
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
    val wantMillis = opts.timestampUnit match {
      case "millis" => true
      case "auto" => allTimestampsMillis(df.schema)
      case _ => false
    }
    // never write deprecated INT96 (Spark's legacy default for TimestampType)
    // — the reference always writes annotated INT64 (timestamp_precision.rs)
    val unit = if (wantMillis) "TIMESTAMP_MILLIS" else "TIMESTAMP_MICROS"
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
    val staging =
      if (outPath == "-") Files.createTempDirectory("graft-sink-")
      else {
        val parent = Option(Paths.get(outPath).toAbsolutePath.getParent)
          .getOrElse(Paths.get("."))
        Files.createDirectories(parent)
        Files.createTempDirectory(parent, ".graft-sink-")
      }
    val stagingDir = staging.resolve("out").toString
    def configured(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) = {
      var out = w.mode("overwrite")
        .option("compression", opts.compression)
        // PARQUET_2_0 writer parity by default (reference parquet_writer.rs:45-47)
        .option("parquet.writer.version", opts.writerVersion)
        // one fetch batch == at most one row group, whatever its bytes
        .option("parquet.block.row.count.limit", opts.batchRows.toString)
      opts.compressionLevel.foreach(l =>
        out = out.option("parquet.compression.codec.zstd.level", l.toString))
      opts.columnDictionary.foreach { case (c, on) =>
        out = out.option(s"parquet.enable.dictionary#$c", on.toString)
      }
      out
    }
    if (split) {
      // parallelize the writers when the source plan has fewer partitions
      // than cores (single-row-group inputs otherwise serialize the write);
      // at real scale inputs arrive already partitioned and this is a no-op.
      // toRdd is the raw InternalRow RDD — lazily built, no job, and no
      // Row-deserializer layer like df.rdd would add
      val parallelism = df.sparkSession.sparkContext.defaultParallelism
      val src =
        if (df.queryExecution.toRdd.getNumPartitions < parallelism / 2)
          df.repartition(parallelism)
        else df
      // one fetch batch == one row group: cap records per file at the batch
      // size × row groups so each emitted file holds whole "batches"
      configured(src.write)
        .option("maxRecordsPerFile",
          (if (opts.rowGroupsPerFile > 0) opts.rowGroupsPerFile.toLong else 1L)
            * opts.batchRows)
        .parquet(stagingDir)
    } else {
      configured(df.coalesce(1).write).parquet(stagingDir)
    }

    val parts = Files.list(Paths.get(stagingDir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)

    // cheap emptiness probe against the WRITTEN files: their footers' row
    // counts, not a re-execution of the source plan
    if (opts.noEmptyFile) {
      val nonEmpty = parts.exists { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          PhysicalFormat.inputFile(p))
        try r.getRecordCount > 0 finally r.close()
      }
      if (!nonEmpty) {
        deleteRecursively(staging)
        return Seq.empty
      }
    }

    val binned: Seq[Seq[Path]] =
      if (opts.fileSizeThresholdBytes > 0) binBySize(parts, opts.fileSizeThresholdBytes)
      else if (opts.rowGroupsPerFile > 0) parts.map(Seq(_))
      else Seq(parts)

    // one pass per FINAL file, after the parallel write and before the
    // destination rename — so a crash mid-pass never leaves a half-written
    // file at the destination path: the bin's parts are appended row group
    // by row group under the fidelity footer (FLBA(n) / TIME annotations —
    // see [[PhysicalFormat]]); a lone part needing no retype is renamed
    val retype = opts.physicalFidelity && PhysicalFormat.needed(df.schema)
    val encoding = PhysicalFormat.Encoding(opts.compression, opts.compressionLevel,
      opts.writerVersion, opts.columnDictionary)
    def finalFile(bin: Seq[Path], n: Int): Path = {
      val inputs =
        if (bin.nonEmpty) bin
        else { // a zero-row result's schema-only file (parquet_writer.rs:117-121)
          val dir = staging.resolve("empty").toString
          configured(df.limit(0).coalesce(1).write).parquet(dir)
          Seq(firstPart(dir))
        }
      if (inputs.size == 1 && !retype) inputs.head
      else {
        val out = staging.resolve(s"final-$n.parquet")
        PhysicalFormat.assemble(inputs, out,
          if (retype) PhysicalFormat.targetType(_, df.schema) else identity, encoding)
        out
      }
    }
    val outputs: Seq[Path] =
      if (outPath == "-") {
        val merged = finalFile(binned.head, 1)
        Files.copy(merged, System.out)
        System.out.flush()
        Seq.empty
      } else if (binned.size <= 1) {
        val merged = finalFile(binned.headOption.getOrElse(Seq.empty), 1)
        val dest = Paths.get(outPath)
        if (dest.getParent != null) Files.createDirectories(dest.getParent)
        Seq(move(merged, dest))
      } else {
        binned.zipWithIndex.map { case (bin, i) =>
          val merged = finalFile(bin, i + 1)
          val dest = Paths.get(suffixedPath(outPath, i + 1, opts.suffixLength))
          if (dest.getParent != null) Files.createDirectories(dest.getParent)
          move(merged, dest)
        }
      }
    deleteRecursively(staging)
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

  /** Consecutive bin-packing by compressed size: a new output file starts
    * when the current one has reached the threshold — same greedy rule as
    * the reference's `should_start_new_file` (batch_size_limit.rs:45-55). */
  private def binBySize(parts: Seq[Path], threshold: Long): Seq[Seq[Path]] = {
    val bins = Seq.newBuilder[Seq[Path]]
    var current = Vector.empty[Path]
    var size = 0L
    parts.foreach { p =>
      if (current.nonEmpty && size >= threshold) {
        bins += current; current = Vector.empty; size = 0L
      }
      current :+= p; size += Files.size(p)
    }
    if (current.nonEmpty) bins += current
    bins.result()
  }

  private def firstPart(dir: String): Path =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString).head

  private def move(src: Path, dest: Path): Path =
    Files.move(src, dest, StandardCopyOption.REPLACE_EXISTING)

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
