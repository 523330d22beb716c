package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.io.{DelegatingSeekableInputStream, InputFile, LocalOutputFile, SeekableInputStream}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.{DataType, StructType}
import graft.functions.TypeMapping
import scala.jdk.CollectionConverters._

/** Physical-format fidelity for the two parquet types Spark's writer does
  * not choose on its own (closing the last two signed-off deviations):
  *
  *  - BINARY(n) → FIXED_LEN_BYTE_ARRAY(n) (reference binary.rs:32-89).
  *    Spark declares BinaryType as BYTE_ARRAY; columns tagged
  *    `graft.binary.fixedLength` are written as physical FLBA(n), values
  *    zero-padded to the declared width (ODBC fixed BINARY semantics: the
  *    driver pads to n — a longer value is a contract violation and errors).
  *  - TIME columns → parquet TIME(MILLIS|MICROS|NANOS, utc=false) logical
  *    annotation on the same INT32/INT64 physical (reference time.rs:38-77,
  *    `is_adjusted_to_u_t_c: false` at time.rs:47). Spark has no TIME type,
  *    so the values travel as ints tagged `graft.time.unit`; the annotation
  *    makes the FILE self-describing for non-graft readers.
  *
  * Like the reference's per-column strategy, the type is chosen once, by
  * the encoder: the CLI sink writes every part through
  * [[FidelityWriteSupport]], which declares [[targetType]] in place of
  * Spark's own schema. [[assembleSlices]] only cuts and copies: it writes
  * one file from row-group ranges of N parquet files ([[assemble]]: their
  * whole files), appending every column chunk raw — pages, dictionary,
  * statistics, column and offset index — under a footer whose annotations
  * may change but whose physical types may not. The output keeps the
  * inputs' row groups exactly (one per fetch batch, like the reference's
  * writer), their codec, encodings and footer key-value metadata. The sink
  * runs it for each final file that is not one whole part; graft's own
  * read paths run it to strip TIME annotations ([[readSparkCompatible]]).
  */
object PhysicalFormat {

  /** Does `schema` carry any tag the Spark writer cannot realize? */
  def needed(schema: StructType): Boolean =
    schema.fields.exists(f =>
      f.metadata.contains(TypeMapping.FixedLenKey) ||
        f.metadata.contains(TypeMapping.TimeUnitKey))

  /** parquet-mr's dictionary cap (`parquet.dictionary.page.size`, 1 MiB by
    * default) for every column chunk the CLI sink's encoder writes, FLBA(n)
    * and TIME columns included (the post-pass re-encodes none). parquet-mr
    * keeps a dictionary only when dictionary + ids are smaller than the plain
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

  /** Spark's parquet write support, declaring the fidelity types itself:
    * the file schema is [[targetType]] of Spark's own, over the row schema
    * `prepareWrite` put in the conf (its `graft.*` tags included), and
    * Spark's value writers fill it. A TIME value is the same INT32/INT64;
    * a BINARY(n) value must arrive padded to n
    * ([[graft.functions.TypeKernels.padFixedBinary]]). A retyped footer
    * drops Spark's stored row schema: it describes the untyped columns,
    * and Spark would read a TIME column through it as plain ints instead
    * of rejecting it (the interop contract FooterSpec pins). The sink
    * selects it through `parquet.write.support.class`. */
  final class FidelityWriteSupport extends ParquetWriteSupport {
    override def init(conf: Configuration): WriteSupport.WriteContext = {
      val own = super.init(conf)
      val target = targetType(own.getSchema,
        DataType.fromJson(conf.get(ParquetWriteSupport.SPARK_ROW_SCHEMA)).asInstanceOf[StructType])
      if (target == own.getSchema) own
      else new WriteSupport.WriteContext(target,
        (own.getExtraMetaData.asScala.toMap - FooterSchema.SparkSchemaKey).asJava)
    }
  }

  /** Rewrite `file` in place so TIME-tagged columns carry the parquet TIME
    * annotation: a footer-only change, every chunk copied raw
    * ([[assemble]]). No-op when [[needed]] is false. Nothing is
    * re-encoded, so the encoding arguments are not read; a column tagged
    * BINARY(n) fails here, since only the sink's encoder writes FLBA(n)
    * ([[FidelityWriteSupport]]). */
  def rewrite(file: Path, schema: StructType, compression: String,
      compressionLevel: Option[Int], writerVersion: String,
      columnDictionary: Map[String, Boolean] = Map.empty): Unit = {
    if (!needed(schema)) return
    val tmp = file.resolveSibling("." + file.getFileName.toString + ".fidelity")
    assemble(Seq(file), tmp, targetType(_, schema))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The row groups `rowGroups` (indices in file order; by default all of
    * them) of the parquet file `file`. */
  final case class Slice(file: Path, rowGroups: Range = 0 until Int.MaxValue)

  /** Concatenate every row group of `inputs` into `dest`
    * ([[assembleSlices]]). */
  def assemble(inputs: Seq[Path], dest: Path, retype: MessageType => MessageType): Unit =
    assembleSlices(inputs.map(Slice(_)), dest, retype)

  /** Concatenate the sliced row groups of `slices`, in order (one schema,
    * flat primitive columns — the CLI's schema surface, SURVEY §1.1) into
    * `dest` under `retype(input schema)`. Every column chunk is appended
    * raw — pages, dictionary, statistics, column and offset index — so
    * `retype` may change annotations only; a change of physical type is an
    * error. The footer carries the first input's key-value metadata, less
    * Spark's stored row schema when the footer is retyped
    * ([[FidelityWriteSupport]] says why). */
  def assembleSlices(slices: Seq[Slice], dest: Path,
      retype: MessageType => MessageType): Unit = {
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
      src.getColumns.asScala.zip(target.getColumns.asScala).foreach { case (s, t) =>
        val (from, to) = (s.getPrimitiveType, t.getPrimitiveType)
        require(from.getPrimitiveTypeName == to.getPrimitiveTypeName &&
          from.getTypeLength == to.getTypeLength,
          s"cannot retype $from to $to: assemble copies column chunks raw")
      }
      // row groups arrive whole, so the writer's row-group size and padding
      // never apply
      val writer = new ParquetFileWriter(new LocalOutputFile(dest), target,
        ParquetFileWriter.Mode.OVERWRITE, ParquetProperties.DEFAULT_PAGE_SIZE.toLong, 0,
        null, ParquetProperties.builder().build())
      try {
        writer.start()
        readers.zip(slices).foreach { case (r, slice) =>
          val stream = inputFile(slice.file).newStream()
          try r.getRowGroups.asScala.zipWithIndex
              .collect { case (block, i) if slice.rowGroups.contains(i) => block }.foreach { block =>
            writer.startBlock(block.getRowCount)
            block.getColumns.asScala.foreach { chunk =>
              writer.appendColumnChunk(target.getColumnDescription(chunk.getPath.toArray),
                stream, chunk, r.readBloomFilter(chunk), r.readColumnIndex(chunk),
                r.readOffsetIndex(chunk))
            }
            writer.endBlock()
          } finally stream.close()
        }
        writer.end(
          if (target == src) meta.getKeyValueMetaData
          else (meta.getKeyValueMetaData.asScala.toMap - FooterSchema.SparkSchemaKey).asJava)
      } catch {
        case e: Throwable =>
          writer.close()
          Files.deleteIfExists(dest)
          throw e
      }
    } finally readers.foreach(_.close())
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
}
