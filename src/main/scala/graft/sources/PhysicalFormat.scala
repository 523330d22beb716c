package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.{ColumnDescriptor, ParquetProperties}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, FileMetaData}
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.io.{DelegatingSeekableInputStream, InputFile, LocalOutputFile, SeekableInputStream}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.spark.sql.types.StructType
import graft.functions.TypeMapping
import scala.jdk.CollectionConverters._

/** Physical-format fidelity pass for the two parquet annotations Spark's
  * writer cannot emit (closing the last two signed-off deviations):
  *
  *  - BINARY(n) → FIXED_LEN_BYTE_ARRAY(n) (reference binary.rs:32-89).
  *    Spark writes BinaryType as BYTE_ARRAY only; columns tagged
  *    `graft.binary.fixedLength` are rewritten to physical FLBA(n), values
  *    zero-padded to the declared width (ODBC fixed BINARY semantics: the
  *    driver pads to n — a longer value is a contract violation and errors).
  *  - TIME columns → parquet TIME(MILLIS|MICROS|NANOS, utc=false) logical
  *    annotation on the same INT32/INT64 physical (reference time.rs:38-77,
  *    `is_adjusted_to_u_t_c: false` at time.rs:47). Spark has no TIME type,
  *    so the values travel as ints tagged `graft.time.unit`; the annotation
  *    makes the FILE self-describing for non-graft readers.
  *
  * Mechanics: [[assembleSlices]] writes one file from row-group ranges of N
  * Spark-written files ([[assemble]]: their whole files) under a target
  * MessageType, row group by row group, at the column-chunk level.
  * A column whose physical type stays (every TIME annotate or strip, every
  * untagged column) is copied as its raw compressed chunk — pages,
  * dictionary, statistics, column and offset index — so only the footer
  * changes. Only a BINARY → FLBA(n) column is decoded and re-encoded, one
  * chunk at a time. The output keeps the inputs' row groups exactly (one
  * per fetch batch, like the reference's writer), their codec, encodings
  * and footer key-value metadata. The sink runs it once per FINAL output
  * file, cutting a split file's row groups from the parts in the same
  * pass; graft's own read paths run it to strip TIME annotations
  * ([[readSparkCompatible]]).
  */
object PhysicalFormat {

  /** Does `schema` carry any tag the Spark writer cannot realize? */
  def needed(schema: StructType): Boolean =
    schema.fields.exists(f =>
      f.metadata.contains(TypeMapping.FixedLenKey) ||
        f.metadata.contains(TypeMapping.TimeUnitKey))

  /** parquet-mr's dictionary cap (`parquet.dictionary.page.size`, 1 MiB by
    * default) for every column chunk the CLI sink encodes: its Spark writer
    * and [[assemble]]'s BINARY(n) → FLBA re-encode alike. parquet-mr keeps
    * a dictionary only when dictionary + ids are smaller than the plain
    * bytes of the chunk's first page, and a page holds at most 20,000 rows
    * (its default row-count limit). A 128 KiB dictionary of ≤ 8-byte values
    * plus its ids always exceeds that, so for int, long, double, date,
    * timestamp and decimal (≤ 18 digits) columns in a first page the cap
    * changes no encoding decision: it only ends a doomed attempt after at
    * most 16k values instead of dictionary-encoding the whole page and then
    * encoding it a second time on fall-back. For BYTE_ARRAY/FLBA columns,
    * and for a dictionary that keeps growing over later pages of a row group
    * longer than one page, it can fall back where 1 MiB would not; FooterSpec
    * bounds that (a 3,000-value dictionary of 30-char strings stays, which a
    * 64 KiB cap would drop at +15% bytes). */
  val DictionaryPageSize: Int = 128 * 1024

  /** Writer settings for the chunks [[assemble]] re-encodes; raw-copied
    * chunks keep whatever their input file had. */
  final case class Encoding(
      compression: String = "zstd",
      compressionLevel: Option[Int] = None,
      writerVersion: String = "v2",
      columnDictionary: Map[String, Boolean] = Map.empty)

  /** Rewrite `file` in place so tagged columns carry the faithful physical
    * type / logical annotation. No-op when [[needed]] is false. Row groups,
    * encodings and footer metadata are kept ([[assemble]]). */
  def rewrite(file: Path, schema: StructType, compression: String,
      compressionLevel: Option[Int], writerVersion: String,
      columnDictionary: Map[String, Boolean] = Map.empty): Unit = {
    if (!needed(schema)) return
    val tmp = file.resolveSibling("." + file.getFileName.toString + ".fidelity")
    assemble(Seq(file), tmp, targetType(_, schema),
      Encoding(compression, compressionLevel, writerVersion, columnDictionary))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The row groups `rowGroups` (indices in file order; by default all of
    * them) of the parquet file `file`. */
  final case class Slice(file: Path, rowGroups: Range = 0 until Int.MaxValue)

  /** Concatenate every row group of `inputs` into `dest`
    * ([[assembleSlices]]). */
  def assemble(inputs: Seq[Path], dest: Path, retype: MessageType => MessageType,
      enc: Encoding = Encoding()): Unit =
    assembleSlices(inputs.map(Slice(_)), dest, retype, enc)

  /** Concatenate the sliced row groups of `slices`, in order (one schema,
    * flat primitive columns — the CLI's schema surface, SURVEY §1.1) into
    * `dest` under `retype(input schema)`. A column whose physical type is
    * unchanged is appended as its raw chunk; BYTE_ARRAY →
    * FIXED_LEN_BYTE_ARRAY(n) is re-encoded with values zero-padded to n, a
    * longer value an error. The footer carries the first input's key-value
    * metadata — less Spark's stored row schema when the footer is retyped:
    * that schema describes the inputs, and Spark would read a TIME column
    * through it as plain ints instead of rejecting it (the interop contract
    * FooterSpec pins). */
  def assembleSlices(slices: Seq[Slice], dest: Path,
      retype: MessageType => MessageType, enc: Encoding = Encoding()): Unit = {
    require(slices.nonEmpty, "assemble needs at least one input file")
    val inputs = slices.map(_.file)
    val readers = inputs.map(reader)
    try {
      val meta = readers.head.getFileMetaData
      val src = meta.getSchema
      readers.zip(inputs).foreach { case (r, p) =>
        require(r.getFileMetaData.getSchema == src,
          s"$p has a different schema than ${inputs.head}")
      }
      val target = retype(src)
      val retyped = src.getColumns.asScala.zip(target.getColumns.asScala).collect {
        case (s, t) if s.getPrimitiveType.getPrimitiveTypeName !=
            t.getPrimitiveType.getPrimitiveTypeName =>
          require(s.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
            t.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY,
            s"cannot retype ${s.getPrimitiveType} to ${t.getPrimitiveType}")
          s.getPath.toSeq -> t
      }.toMap
      val props = properties(enc)
      // row groups arrive whole, so the writer's row-group size and padding
      // never apply
      val writer = new ParquetFileWriter(new LocalOutputFile(dest), target,
        ParquetFileWriter.Mode.OVERWRITE, ParquetProperties.DEFAULT_PAGE_SIZE.toLong, 0,
        null, props)
      val codecs = new CodecFactory(zstdConf(enc), props.getPageSizeThreshold)
      try {
        writer.start()
        readers.zip(slices).foreach { case (r, slice) =>
          if (retyped.nonEmpty)
            r.setRequestedSchema(new MessageType(src.getName,
              src.getFields.asScala.filter(f => retyped.contains(Seq(f.getName))).asJava))
          val stream = inputFile(slice.file).newStream()
          try r.getRowGroups.asScala.zipWithIndex.filter(g => slice.rowGroups.contains(g._2))
              .foreach { case (block, bi) =>
            lazy val decoded = new ColumnReadStoreImpl(r.readRowGroup(bi), NoConverter,
              src, r.getFileMetaData.getCreatedBy)
            writer.startBlock(block.getRowCount)
            block.getColumns.asScala.foreach { chunk =>
              val path = chunk.getPath.toArray
              retyped.get(path.toSeq) match {
                case None =>
                  writer.appendColumnChunk(target.getColumnDescription(path), stream,
                    chunk, r.readBloomFilter(chunk), r.readColumnIndex(chunk),
                    r.readOffsetIndex(chunk))
                case Some(t) =>
                  padChunk(decoded.getColumnReader(src.getColumnDescription(path)),
                    t, block.getRowCount, codecs.getCompressor(codec(enc.compression)),
                    props, writer)
              }
            }
            writer.endBlock()
          } finally stream.close()
        }
        writer.end(
          if (target == src) meta.getKeyValueMetaData
          else (meta.getKeyValueMetaData.asScala - FooterSchema.SparkSchemaKey).asJava)
      } catch {
        case e: Throwable =>
          writer.close()
          Files.deleteIfExists(dest)
          throw e
      } finally codecs.release()
    } finally readers.foreach(_.close())
  }

  /** Re-encode one BYTE_ARRAY chunk as FIXED_LEN_BYTE_ARRAY(n) into the
    * writer's open row group, zero-padding each value to n. */
  private def padChunk(reader: org.apache.parquet.column.ColumnReader,
      target: ColumnDescriptor, rows: Long,
      compressor: CodecFactory.BytesCompressor, props: ParquetProperties,
      writer: ParquetFileWriter): Unit = {
    val prim = target.getPrimitiveType
    val schema = new MessageType("chunk", prim)
    val pageStore = new ColumnChunkPageWriteStore(compressor, schema,
      props.getAllocator, props.getColumnIndexTruncateLength,
      props.getPageWriteChecksumEnabled)
    val columns = props.newColumnWriteStore(schema, pageStore)
    val out = columns.getColumnWriter(target)
    val width = prim.getTypeLength
    val maxDef = target.getMaxDefinitionLevel
    var i = 0L
    while (i < rows) {
      val d = reader.getCurrentDefinitionLevel
      if (d == maxDef) {
        val raw = reader.getBinary.getBytes
        require(raw.length <= width,
          s"fixed BINARY($width) column '${prim.getName}' received ${raw.length} bytes")
        out.write(Binary.fromConstantByteArray(
          if (raw.length == width) raw else java.util.Arrays.copyOf(raw, width)), 0, d)
      } else out.writeNull(0, d)
      reader.consume()
      columns.endRecord()
      i += 1
    }
    columns.flush()
    pageStore.flushToFileWriter(writer)
    columns.close()
    pageStore.close()
  }

  /** The column reader needs a record converter to exist; the assembler
    * pulls values straight from the reader and never materializes. */
  private object NoConverter extends GroupConverter {
    private val primitive = new PrimitiveConverter {}
    def getConverter(fieldIndex: Int): Converter = primitive
    def start(): Unit = ()
    def end(): Unit = ()
  }

  /** A local file as a parquet InputFile whose stream reads through a
    * FileChannel in bulk — parquet-mr's LocalInputFile reads a chunk copy
    * one byte per call. */
  private[sources] def inputFile(p: Path): InputFile = new InputFile {
    def getLength: Long = Files.size(p)
    def newStream(): SeekableInputStream = {
      val ch = java.nio.channels.FileChannel.open(p)
      new DelegatingSeekableInputStream(java.nio.channels.Channels.newInputStream(ch)) {
        def getPos: Long = ch.position
        def seek(pos: Long): Unit = ch.position(pos)
      }
    }
  }

  /** Reader options over a plain configuration: parquet-mr's default
    * builds a Hadoop `Configuration` per open, which parses Hadoop's
    * default XML resources each time (~10 ms, more than the footer read). */
  private val ReadOptions =
    ParquetReadOptions.builder(new org.apache.parquet.conf.PlainParquetConfiguration()).build()

  /** A reader of the local parquet file `p` ([[inputFile]]). */
  private[sources] def reader(p: Path): ParquetFileReader = ParquetFileReader.open(inputFile(p), ReadOptions)

  private def properties(enc: Encoding): ParquetProperties = {
    val b = ParquetProperties.builder().withWriterVersion(
      if (enc.writerVersion == "v1") ParquetProperties.WriterVersion.PARQUET_1_0
      else ParquetProperties.WriterVersion.PARQUET_2_0)
      .withDictionaryPageSize(DictionaryPageSize)
    enc.columnDictionary.foreach { case (c, on) => b.withDictionaryEncoding(c, on) }
    b.build()
  }

  private def zstdConf(enc: Encoding): Configuration = {
    val conf = new Configuration(false)
    enc.compressionLevel.foreach(l =>
      conf.setInt("parquet.compression.codec.zstd.level", l))
    conf
  }

  /** One TIME-stripped copy per source file, keyed by absolute path and
    * replaced (the old copy deleted) when the source's length or mtime
    * changes — a long-lived JVM re-reading the same files holds one copy
    * each, not one per read. */
  private val stripped = scala.collection.mutable.Map.empty[Path, ((Long, Long), Path)]

  private def strippedCopy(src: Path, stripType: MessageType => MessageType): Path =
    stripped.synchronized {
      val key = src.toAbsolutePath.normalize
      val stamp = (Files.size(key), Files.getLastModifiedTime(key).to(TimeUnit.NANOSECONDS))
      stripped.get(key) match {
        case Some((`stamp`, copy)) if Files.exists(copy) => copy
        case previous =>
          previous.foreach { case (_, old) => Files.deleteIfExists(old) }
          val copy = Files.createTempFile("graft-timeread", ".parquet")
          copy.toFile.deleteOnExit()
          assemble(Seq(key), copy, stripType)
          stripped(key) = (stamp, copy)
          copy
      }
    }

  /** The INVERSE pass, for graft's own read paths (insert/exec/tables-dir):
    * Spark's reader rejects TIME-annotated columns, so a fidelity file
    * written by `query` would be unreadable by `insert` — while the
    * reference's insert reads its own TIME output fine (input.rs reads
    * physical ints). Strips TIME logical annotations (same physical
    * INT32/INT64 — a footer-only change, [[assemble]] copies every chunk
    * raw) into a copy in java.io.tmpdir and reads THAT, re-attaching the
    * `graft.time.unit` field metadata the stripped annotation carried.
    * FLBA needs no strip (Spark reads it as binary). Files without TIME
    * annotations read directly — zero-copy fast path. Either way the read
    * takes its schema from one footer, not from a Spark inference job. */
  def readSparkCompatible(spark: org.apache.spark.sql.SparkSession,
      file: Path): org.apache.spark.sql.DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(file.toString)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resolve the argument the way spark.read would: a glob expands to
    // its matches, a directory to its visible files, a file to itself —
    // split fidelity output (`out_01.par` siblings), a directory holding
    // it, or a glob over it must all strip per-file
    val candidates: Seq[Path] = Option(fs.globStatus(hPath)).toSeq.flatten.flatMap { st =>
      val p = Paths.get(st.getPath.toUri)
      if (st.isDirectory) FooterSchema.visible(p).filter(Files.isRegularFile(_))
      else Seq(p)
    }
    if (candidates.isEmpty) return spark.read.parquet(file.toString)
    // one footer open per member gives its TIME columns; the first
    // member's footer also gives the schema of the read, since the members
    // share one schema (once stripped), as Spark's own inference assumes
    val inspected = candidates.map { p =>
      val meta = FooterSchema.footer(p).getFileMetaData
      val units = meta.getSchema.getFields.asScala.collect {
        case f if f.isPrimitive &&
            f.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.TimeLogicalTypeAnnotation] =>
          val u = f.getLogicalTypeAnnotation
            .asInstanceOf[LogicalTypeAnnotation.TimeLogicalTypeAnnotation].getUnit
          f.getName -> u.toString.toLowerCase
      }.toMap
      (p, meta, units)
    }
    def stripTime(units: Map[String, String])(src: MessageType) =
      new MessageType(src.getName, src.getFields.asScala.toSeq.map { f =>
        if (units.contains(f.getName))
          Types.primitive(f.asPrimitiveType().getPrimitiveTypeName,
            f.getRepetition).named(f.getName)
        else f
      }.asJava)
    val (_, headMeta, headUnits) = inspected.head
    // a stripped copy's footer drops Spark's stored row schema (assemble)
    val schema = FooterSchema.sparkSchema(spark,
      if (headUnits.isEmpty) headMeta
      else new FileMetaData(stripTime(headUnits)(headMeta.getSchema),
        (headMeta.getKeyValueMetaData.asScala - FooterSchema.SparkSchemaKey).asJava,
        headMeta.getCreatedBy))
    if (inspected.forall(_._3.isEmpty))
      return spark.read.schema(schema).parquet(file.toString)
    // strip each TIME-bearing member into its cached copy; untouched
    // members read in place. Copies must outlive this call (Spark reads
    // lazily); deleteOnExit removes them when the JVM ends.
    val readPaths = inspected.map { case (p, _, units) =>
      if (units.isEmpty) p.toString else strippedCopy(p, stripTime(units)).toString
    }
    // splits of one logical output share a schema, so the unit map is the
    // union (identical per column across members)
    val timeUnits = inspected.flatMap(_._3).toMap
    val raw = spark.read.schema(schema).parquet(readPaths: _*)
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    raw.select(raw.schema.fieldNames.toIndexedSeq.map { n =>
      timeUnits.get(n) match {
        case Some(unit) => col(n).as(n,
          new MetadataBuilder().putString(TypeMapping.TimeUnitKey, unit).build())
        case None => col(n)
      }
    }: _*)
  }

  /** The source file's MessageType with tagged fields replaced: FLBA(n) for
    * fixed-width binary tags, TIME-annotated INT32/INT64 for time tags;
    * every untagged field carried through untouched. */
  def targetType(src: MessageType, schema: StructType): MessageType = {
    val fields: Seq[Type] = src.getFields.asScala.toSeq.map { f =>
      val name = f.getName
      schema.fields.find(_.name == name) match {
        case Some(sf) if sf.metadata.contains(TypeMapping.FixedLenKey) =>
          Types.primitive(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, f.getRepetition)
            .length(sf.metadata.getLong(TypeMapping.FixedLenKey).toInt)
            .named(name)
        case Some(sf) if sf.metadata.contains(TypeMapping.TimeUnitKey) =>
          val (unit, phys) = sf.metadata.getString(TypeMapping.TimeUnitKey) match {
            case "millis" => (LogicalTypeAnnotation.TimeUnit.MILLIS, PrimitiveTypeName.INT32)
            case "micros" => (LogicalTypeAnnotation.TimeUnit.MICROS, PrimitiveTypeName.INT64)
            case other => (LogicalTypeAnnotation.TimeUnit.NANOS, PrimitiveTypeName.INT64)
          }
          Types.primitive(phys, f.getRepetition)
            .as(LogicalTypeAnnotation.timeType(false, unit))
            .named(name)
        case _ => f
      }
    }
    new MessageType(src.getName, fields.asJava)
  }

  /** Spark's parquet codec vocabulary, mapped 1:1 — an unknown name is an
    * ERROR, never a silent substitution (a re-encoded chunk must carry
    * exactly the codec the caller asked the sink for). */
  private def codec(name: String): CompressionCodecName = name.toLowerCase match {
    case "zstd" => CompressionCodecName.ZSTD
    case "snappy" => CompressionCodecName.SNAPPY
    case "gzip" => CompressionCodecName.GZIP
    case "lz4" => CompressionCodecName.LZ4
    case "lz4raw" | "lz4_raw" => CompressionCodecName.LZ4_RAW
    case "brotli" => CompressionCodecName.BROTLI
    case "lzo" => CompressionCodecName.LZO
    case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
    case other => throw new IllegalArgumentException(
      s"unsupported compression codec for the fidelity re-encode: $other")
  }
}
