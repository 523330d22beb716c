package graft

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ParquetSink
import scala.jdk.CollectionConverters._

/** Parquet footer parity: row-group statistics (integration.rs:3990-4025),
  * per-column encoding control (main.rs:188-196), writer version, and
  * compression codec — verified by reading the written file's footer with
  * parquet-mr directly, the same way the reference tests shell out to
  * parquet-schema/parquet-read. */
class FooterSpec extends AnyFunSuite {
  import TestSession._

  private def footer(path: java.nio.file.Path) =
    ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path.toString), new Configuration())).getFooter

  test("row-group statistics carry min/max (stats parity)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-footer").resolve("stats.par")
    ParquetSink.write(Seq("aaa", "zzz", "mmm").toDF("a"), out.toString, ParquetSink.Options())
    val cols = footer(out).getBlocks.asScala.head.getColumns.asScala
    val st = cols.head.getStatistics
    assert(new String(st.getMinBytes) == "aaa")
    assert(new String(st.getMaxBytes) == "zzz")
  }

  test("default compression is zstd; level is configurable") {
    val out = Files.createTempDirectory("graft-footer").resolve("z.par")
    ParquetSink.write(Tables.region(spark, sf), out.toString,
      ParquetSink.Options(compressionLevel = Some(3)))
    val codecs = footer(out).getBlocks.asScala.head.getColumns.asScala
      .map(_.getCodec.toString).toSet
    assert(codecs == Set("ZSTD"))
  }

  private def encodings(p: java.nio.file.Path, col: String) =
    footer(p).getBlocks.asScala.head.getColumns.asScala
      .find(_.getPath.toDotString == col).get.getEncodings.asScala.map(_.toString).toSet

  test("v2 writer (reference default): delta for plain columns, dictionary where it wins") {
    val out = Files.createTempDirectory("graft-footer").resolve("v2.par")
    ParquetSink.write(Tables.part(spark, sf), out.toString, ParquetSink.Options())
    assert(encodings(out, "p_partkey").contains("DELTA_BINARY_PACKED"))
    assert(encodings(out, "p_type").contains("RLE_DICTIONARY"))
  }

  private def primitive(p: java.nio.file.Path, col: String) =
    footer(p).getFileMetaData.getSchema.getType(Seq(col): _*).asPrimitiveType()

  test("timestamp physical unit: declared p<=3 writes MILLIS, default stays MICROS") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.functions.TypeMapping
    val withMeta = new MetadataBuilder()
      .putString(TypeMapping.TimestampUnitKey, "millis").build()
    // instant-semantics timestamps (TIMESTAMPTZ mapping): Spark's writer
    // honors outputTimestampType for TimestampType; NTZ is hardcoded to
    // MICROS by the writer — documented deviation, see README
    val schema = StructType(Seq(
      StructField("ts", TimestampType, nullable = true, withMeta)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.678")))),
      schema)
    val outMs = Files.createTempDirectory("graft-footer").resolve("ms.par")
    ParquetSink.write(df, outMs.toString, ParquetSink.Options()) // auto → millis
    assert(primitive(outMs, "ts").getLogicalTypeAnnotation.toString
      .contains("MILLIS"), "p<=3 timestamp must write TIMESTAMP(MILLIS)")

    val outUs = Files.createTempDirectory("graft-footer").resolve("us.par")
    ParquetSink.write(
      df.select(col("ts").as("ts", Metadata.empty)), // strip the millis tag
      outUs.toString, ParquetSink.Options())
    assert(primitive(outUs, "ts").getLogicalTypeAnnotation.toString
      .contains("MICROS"), "untagged timestamp keeps the MICROS default")
    // the writer conf must be restored after the millis write
    assert(spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      .forall(_ != "TIMESTAMP_MILLIS"))
  }

  test("decimal physical encodings: INT32 (p<=9), INT64 (p<=18), FLBA i128 (p<=38)") {
    // backs k1_decimal_cast's kernel claim (reference decimal.rs:42-124 split)
    val out = Files.createTempDirectory("graft-footer").resolve("dec.par")
    ParquetSink.write(Tables.lineitem(spark, sf).limit(100)
      .select(col("l_extendedprice").cast("decimal(9,2)").as("d32"),
        col("l_extendedprice").cast("decimal(18,4)").as("d64"),
        col("l_extendedprice").cast("decimal(38,6)").as("d128")),
      out.toString, ParquetSink.Options())
    assert(primitive(out, "d32").getPrimitiveTypeName.toString == "INT32")
    assert(primitive(out, "d64").getPrimitiveTypeName.toString == "INT64")
    assert(primitive(out, "d128").getPrimitiveTypeName.toString == "FIXED_LEN_BYTE_ARRAY")
  }

  test("BINARY(n) writes physical FIXED_LEN_BYTE_ARRAY(n), zero-padded (binary.rs:32-89)") {
    // the PhysicalFormat fidelity pass closes the former deviation: a
    // FixedLenKey-tagged BinaryType column lands as physical FLBA(n) like
    // the reference; --prefer-varbinary (untagged) keeps BYTE_ARRAY
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.functions.TypeMapping
    val f = TypeMapping.field(
      TypeMapping.SourceColumn("b", TypeMapping.SqlBinary(5)),
      TypeMapping.MappingOptions())
    assert(f.metadata.getLong(TypeMapping.FixedLenKey) == 5L)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("hello".getBytes: Any), Row("hi".getBytes: Any))),
      StructType(Seq(f)))
    val out = Files.createTempDirectory("graft-footer").resolve("bin.par")
    ParquetSink.write(df, out.toString, ParquetSink.Options())
    val p = primitive(out, "b")
    assert(p.getPrimitiveTypeName.toString == "FIXED_LEN_BYTE_ARRAY")
    assert(p.getTypeLength == 5)
    // values survive the re-encode; short values are zero-padded to width
    // (ODBC fixed-BINARY semantics) — Spark reads FLBA back as BinaryType
    val back = spark.read.parquet(out.toString).collect()
      .map(_.getAs[Array[Byte]]("b").toSeq).sortBy(_.mkString)
    assert(back.contains("hello".getBytes.toSeq))
    assert(back.contains(("hi".getBytes ++ Array[Byte](0, 0, 0)).toSeq))

    // --prefer-varbinary (reference main.rs:184-187): untagged → BYTE_ARRAY
    val fv = TypeMapping.field(
      TypeMapping.SourceColumn("b", TypeMapping.SqlBinary(5)),
      TypeMapping.MappingOptions(preferVarbinary = true))
    assert(!fv.metadata.contains(TypeMapping.FixedLenKey))
    val outV = Files.createTempDirectory("graft-footer").resolve("varbin.par")
    ParquetSink.write(
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("hello".getBytes: Any))),
        StructType(Seq(fv))),
      outV.toString, ParquetSink.Options())
    assert(primitive(outV, "b").getPrimitiveTypeName.toString == "BINARY")
  }

  test("TIME columns carry parquet TIME(unit, utc=false) annotations (time.rs:38-77)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.functions.TypeMapping
    val fMs = TypeMapping.field(
      TypeMapping.SourceColumn("t_ms", TypeMapping.SqlTime(3)), TypeMapping.MappingOptions())
    val fUs = TypeMapping.field(
      TypeMapping.SourceColumn("t_us", TypeMapping.SqlTime(6)), TypeMapping.MappingOptions())
    val fNs = TypeMapping.field(
      TypeMapping.SourceColumn("t_ns", TypeMapping.SqlTime(9)), TypeMapping.MappingOptions())
    // 16:04:12.123 as millis / micros / nanos since midnight
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Int.box(57852123), Long.box(57852123456L), Long.box(57852123456789L)))),
      StructType(Seq(fMs, fUs, fNs)))
    val out = Files.createTempDirectory("graft-footer").resolve("time.par")
    ParquetSink.write(df, out.toString, ParquetSink.Options())
    val ms = primitive(out, "t_ms")
    val us = primitive(out, "t_us")
    val ns = primitive(out, "t_ns")
    assert(ms.getPrimitiveTypeName.toString == "INT32" &&
      ms.getLogicalTypeAnnotation.toString == "TIME(MILLIS,false)")
    assert(us.getPrimitiveTypeName.toString == "INT64" &&
      us.getLogicalTypeAnnotation.toString == "TIME(MICROS,false)")
    assert(ns.getPrimitiveTypeName.toString == "INT64" &&
      ns.getLogicalTypeAnnotation.toString == "TIME(NANOS,false)")
  }

  test("fidelity interop contract: DuckDB reads TIME/FLBA; Spark needs --no-physical-fidelity") {
    import graft.functions.TypeMapping
    val fMs = TypeMapping.field(
      TypeMapping.SourceColumn("t_ms", TypeMapping.SqlTime(3)), TypeMapping.MappingOptions())
    val fB = TypeMapping.field(
      TypeMapping.SourceColumn("b", TypeMapping.SqlBinary(5)), TypeMapping.MappingOptions())
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(Int.box(57852123), "hi".getBytes: Any))),
      org.apache.spark.sql.types.StructType(Seq(fMs, fB)))
    val out = Files.createTempDirectory("graft-footer").resolve("interop.par")
    ParquetSink.write(df, out.toString, ParquetSink.Options())

    // Spark's reader rejects TIME-annotated columns — the same way it
    // rejects the reference's own output files. Pinned so a future Spark
    // that LEARNS to read TIME flips this test and we can drop the note.
    val e = intercept[Exception](spark.read.parquet(out.toString).collect())
    assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
      e.getMessage.contains("Illegal Parquet type"), e.getMessage.take(200))

    // DuckDB reads the same file as first-class TIME + padded BLOB —
    // the external-consumer contract the fidelity pass exists for
    val pb = new ProcessBuilder("python3", "-c",
      s"""import duckdb
         |r = duckdb.sql("SELECT typeof(t_ms) t, CAST(t_ms AS VARCHAR) v, b FROM read_parquet('$out')").fetchall()
         |print("GRAFTOK", r[0][0], r[0][1], r[0][2].hex())""".stripMargin)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val outTxt = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val code = p.waitFor()
    if (code != 0 && outTxt.contains("ModuleNotFoundError"))
      cancel("driver python lacks duckdb here")
    assert(code == 0, outTxt.take(400))
    assert(outTxt.contains("GRAFTOK TIME 16:04:12.123 6869000000"),
      s"DuckDB must see TIME 16:04:12.123 and zero-padded 'hi' blob: $outTxt")

    // opt-out path: --no-physical-fidelity keeps the file Spark-readable
    // (plain INT32 + BYTE_ARRAY, semantics in graft.* field metadata)
    val out2 = Files.createTempDirectory("graft-footer").resolve("nofid.par")
    ParquetSink.write(df, out2.toString, ParquetSink.Options(physicalFidelity = false))
    val back = spark.read.parquet(out2.toString).collect()
    assert(back.head.getInt(0) == 57852123)
    assert(back.head.getAs[Array[Byte]]("b").toSeq == "hi".getBytes.toSeq)

    // graft's OWN read paths handle the fidelity file (reference parity:
    // input.rs reads the tool's own TIME output as physical ints): the
    // inverse pass strips the annotation and re-attaches graft.time.unit
    val own = graft.sources.PhysicalFormat.readSparkCompatible(spark, out)
    val r = own.collect().head
    assert(r.getInt(own.schema.fieldIndex("t_ms")) == 57852123)
    assert(own.schema("t_ms").metadata
      .getString(graft.functions.TypeMapping.TimeUnitKey) == "millis")
    assert(r.getAs[Array[Byte]]("b").toSeq ==
      ("hi".getBytes ++ Array[Byte](0, 0, 0)).toSeq)

    // split fidelity output is SIBLING FILES — a directory of (or glob
    // over) TIME-annotated members must strip per member, not crash in
    // the single-file footer reader
    val splitDir = Files.createTempDirectory("graft-footer-split")
    ParquetSink.write(df, splitDir.resolve("part_01.par").toString,
      ParquetSink.Options())
    ParquetSink.write(df, splitDir.resolve("part_02.par").toString,
      ParquetSink.Options())
    val multi = graft.sources.PhysicalFormat.readSparkCompatible(spark, splitDir)
    assert(multi.count() == 2, "both split members must be read")
    assert(multi.schema("t_ms").metadata
      .getString(graft.functions.TypeMapping.TimeUnitKey) == "millis")
    assert(multi.collect().forall(
      _.getInt(multi.schema.fieldIndex("t_ms")) == 57852123))
  }

  test("fidelity TIME output round-trips through graft's own insert (input.rs parity)") {
    import graft.functions.TypeMapping
    import graft.cli.Cli
    val fUs = TypeMapping.field(
      TypeMapping.SourceColumn("t_us", TypeMapping.SqlTime(6)), TypeMapping.MappingOptions())
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row(Long.box(57852123456L)),
          org.apache.spark.sql.Row(Long.box(1L)))),
      org.apache.spark.sql.types.StructType(Seq(fUs)))
    val out = Files.createTempDirectory("graft-footer").resolve("t.par")
    ParquetSink.write(df, out.toString, ParquetSink.Options())
    // confirm the file actually carries the annotation (the hard case)
    assert(primitive(out, "t_us").getLogicalTypeAnnotation.toString == "TIME(MICROS,false)")
    val db = s"fidins${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db;create=true"
    try {
      val (cmd, conf) = Cli.parse(Seq("insert", "-c", url, out.toString, "times"))
      assert(cmd == "insert")
      Cli.runInsert(conf, Some(spark))
      val back = spark.read.format("jdbc").option("url", url)
        .option("dbtable", "times").load().collect().map(_.getLong(0)).sorted
      assert(back.toSeq == Seq(1L, 57852123456L))
    } finally {
      try { java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true"); () }
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("per-column dictionary encoding can be disabled (column-encoding parity)") {
    val out1 = Files.createTempDirectory("graft-footer").resolve("dict.par")
    ParquetSink.write(Tables.part(spark, sf), out1.toString, ParquetSink.Options())
    val out2 = Files.createTempDirectory("graft-footer").resolve("nodict.par")
    ParquetSink.write(Tables.part(spark, sf), out2.toString,
      ParquetSink.Options(columnDictionary = Map("p_type" -> false)))
    assert(encodings(out1, "p_type").exists(_.contains("DICTIONARY")))
    assert(!encodings(out2, "p_type").exists(_.contains("DICTIONARY")))
    // the untouched column keeps its dictionary
    assert(encodings(out2, "p_brand").exists(_.contains("DICTIONARY")))
  }

  private def rowGroups(p: java.nio.file.Path): Seq[Long] =
    footer(p).getBlocks.asScala.map(_.getRowCount).toSeq

  test("non-split writes roll one row group per batch, never a whole-file group") {
    val out = Files.createTempDirectory("graft-footer").resolve("rg.par")
    ParquetSink.write(spark.range(0, 25000).toDF("id"), out.toString,
      ParquetSink.Options(batchRows = 10000))
    val groups = rowGroups(out)
    assert(groups.sum == 25000)
    assert(groups.size >= 3 && groups.forall(_ <= 10000), s"row groups: $groups")
  }

  /** `n` rows of an id, a TIME(3) column, a BINARY(16) column of 0..16-byte
    * values (every 50th NULL) and a text column. */
  private def fidelityFrame(n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.functions.TypeMapping
    def field(name: String, t: TypeMapping.SqlType) =
      TypeMapping.field(TypeMapping.SourceColumn(name, t), TypeMapping.MappingOptions())
    val rows = (0 until n).map { i =>
      Row(i.toLong, Int.box((i * 7919) % 86400000),
        if (i % 50 == 0) null else Array.tabulate[Byte](i % 17)(j => (i + j + 1).toByte),
        s"row-$i-${i * 31 % 97}")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("id", LongType, nullable = false),
      field("t_ms", TypeMapping.SqlTime(3)), field("b", TypeMapping.SqlBinary(16)),
      StructField("txt", StringType))))
  }

  private def expectedBytes(i: Int): Seq[Byte] =
    if (i % 50 == 0) null
    else Array.tabulate[Byte](16)(j => if (j < i % 17) (i + j + 1).toByte else 0).toSeq

  test("split fidelity output: parts' row groups appended, TIME/FLBA footer, indexes kept") {
    val n = 6000
    val df = fidelityFrame(n)
    val dir = Files.createTempDirectory("graft-footer-asm")
    val written = ParquetSink.write(df, dir.resolve("f.par").toString,
      ParquetSink.Options(batchRows = 500, fileSizeThresholdBytes = 16 * 1024))
    assert(written.size >= 2, s"expected a split, got $written")
    val groups = written.map(rowGroups)
    assert(groups.flatten.sum == n && groups.flatten.forall(_ <= 500), s"row groups: $groups")
    assert(groups.exists(_.size > 1), s"no file merged several parts: $groups")
    written.foreach { f =>
      assert(primitive(f, "t_ms").getLogicalTypeAnnotation.toString == "TIME(MILLIS,false)")
      assert(primitive(f, "b").getPrimitiveTypeName.toString == "FIXED_LEN_BYTE_ARRAY")
      assert(primitive(f, "b").getTypeLength == 16)
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString), new Configuration()))
      try r.getRowGroups.asScala.foreach(_.getColumns.asScala.foreach { c =>
        assert(r.readColumnIndex(c) != null, s"$f ${c.getPath}: no column index")
        assert(r.readOffsetIndex(c) != null, s"$f ${c.getPath}: no offset index")
      }) finally r.close()
    }
    // values round-trip through graft's own reader; FLBA values zero-padded
    val back = graft.sources.PhysicalFormat.readSparkCompatible(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(back.size == n)
    (0 until n).foreach { i =>
      val r = back(i.toLong)
      assert(r.getInt(1) == (i * 7919) % 86400000)
      assert(Option(r.getAs[Array[Byte]](2)).map(_.toSeq).orNull == expectedBytes(i), s"row $i")
      assert(r.getString(3) == s"row-$i-${i * 31 % 97}")
    }
  }

  test("assemble keeps each part's row groups exactly; an over-long BINARY(n) fails") {
    import graft.sources.PhysicalFormat
    val df = fidelityFrame(3000)
    val partsDir = Files.createTempDirectory("graft-footer-parts").resolve("p")
    df.repartition(3).write.option("parquet.block.row.count.limit", "400")
      .parquet(partsDir.toString)
    val parts = Files.list(partsDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    val out = Files.createTempDirectory("graft-footer-asm").resolve("one.parquet")
    PhysicalFormat.assemble(parts, out, PhysicalFormat.targetType(_, df.schema))
    assert(rowGroups(out) == parts.flatMap(rowGroups))
    assert(rowGroups(out).size > parts.size, "each part should hold several row groups")

    val tooLong = df.select(col("id"), col("b").as("b",
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(graft.functions.TypeMapping.FixedLenKey, 4L).build()))
    val e = intercept[Exception](ParquetSink.write(tooLong,
      Files.createTempDirectory("graft-footer").resolve("long.par").toString,
      ParquetSink.Options(batchRows = 500, fileSizeThresholdBytes = 16 * 1024)))
    assert(e.getMessage.contains("fixed BINARY(4) column 'b' received"), e.getMessage)
  }

  test("--no-physical-fidelity merges keep the v2 encodings and the zstd level") {
    val df = fidelityFrame(6000)
    def merged(level: Int) = {
      val dir = Files.createTempDirectory("graft-footer-nofid")
      val written = ParquetSink.write(df, dir.resolve("m.par").toString,
        ParquetSink.Options(batchRows = 500, fileSizeThresholdBytes = 16 * 1024,
          compressionLevel = Some(level), physicalFidelity = false))
      assert(written.exists(rowGroups(_).size > 1), "no file merged several parts")
      written
    }
    val fast = merged(1)
    val small = merged(19)
    (fast ++ small).foreach { f =>
      footer(f).getBlocks.asScala.foreach { b =>
        val id = b.getColumns.asScala.find(_.getPath.toDotString == "id").get
        assert(id.getEncodings.asScala.map(_.toString).contains("DELTA_BINARY_PACKED"),
          s"$f: ${id.getEncodings}")
      }
    }
    assert(small.map(Files.size(_)).sum < fast.map(Files.size(_)).sum,
      "zstd level 19 output must be smaller than level 1")
  }

  test("TIME-stripped read copies are reused per unchanged file and replaced on change") {
    import graft.sources.PhysicalFormat
    val f = Files.createTempDirectory("graft-footer-strip").resolve("t.par")
    ParquetSink.write(fidelityFrame(100), f.toString, ParquetSink.Options())
    val first = PhysicalFormat.readSparkCompatible(spark, f).inputFiles.toSeq
    val second = PhysicalFormat.readSparkCompatible(spark, f).inputFiles.toSeq
    assert(first.size == 1 && first == second, s"$first vs $second")
    ParquetSink.write(fidelityFrame(200), f.toString, ParquetSink.Options())
    val third = PhysicalFormat.readSparkCompatible(spark, f)
    assert(third.inputFiles.toSeq != first)
    assert(third.count() == 200)
    assert(!Files.exists(java.nio.file.Paths.get(new java.net.URI(first.head))),
      "the superseded copy must be deleted")
  }
}
