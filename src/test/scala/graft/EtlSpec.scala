package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cli.Cli
import graft.sources.{BatchSizeLimit, JdbcSink, ParquetSink}

/** ETL-surface tests mirroring the reference's integration taxonomy:
  * splitting/naming (integration.rs:1513-1698), empty results
  * (:1352-1466), exec placeholder matrix (:3802-3920), insert round trip,
  * CLI validation (:3969-3987). */
class EtlSpec extends AnyFunSuite {
  import TestSession._

  private def tmp() = Files.createTempDirectory("graft-etl")

  test("single-file output is a file at exactly the requested path") {
    val out = tmp().resolve("result.par")
    val files = ParquetSink.write(
      Tables.region(spark, sf), out.toString, ParquetSink.Options())
    assert(files == Seq(out))
    assert(Files.isRegularFile(out))
    assert(spark.read.parquet(out.toString).count() == 5)
  }

  test("row-group splitting produces zero-padded, extension-preserving suffixes") {
    val out = tmp().resolve("out.par")
    val files = ParquetSink.write(
      Tables.lineitem(spark, sf), out.toString,
      ParquetSink.Options(rowGroupsPerFile = 1, batchRows = 2000))
    // one file per row group; each write task's last row group may be short
    // of a batch, so at least ceil(6000/2000) files, every file within the
    // cap, contiguous zero-padded suffixes
    assert(files.size >= 3)
    assert(files.map(_.getFileName.toString) ==
      (1 to files.size).map(i => f"out_$i%02d.par"))
    val perFile = files.map(f => spark.read.parquet(f.toString).count())
    assert(perFile.forall(_ <= 2000))
    assert(perFile.sum == 6000)
  }

  test("suffix length is configurable (suffix parity parquet_writer.rs:252-278)") {
    assert(ParquetSink.suffixedPath("dir/out.par", 7, 3) == "dir/out_007.par")
    assert(ParquetSink.suffixedPath("noext", 1, 2) == "noext_01")
    assert(ParquetSink.suffixedPath("a.b.par", 12, 2) == "a.b_12.par")
    // counter overflow widens the suffix rather than wrapping/failing
    assert(ParquetSink.suffixedPath("out.par", 100, 2) == "out_100.par")
    assert(ParquetSink.suffixedPath("out.par", 1234, 3) == "out_1234.par")
  }

  test("top-k-per-group edges: k exceeding group size, empty input") {
    import spark.implicits._
    val tiny = Seq((1L, 10L, 5.0), (1L, 11L, 7.0)).toDF("g", "id", "v")
    val top = graft.plans.TopKPerGroup(tiny,
      groupCols = Seq(col("g")), orderCols = Seq(col("v") -> false, col("id") -> true), k = 5)
    assert(top.count() == 2, "k larger than the group returns the whole group")
    val empty = graft.plans.TopKPerGroup(tiny.filter(lit(false)),
      groupCols = Seq(col("g")), orderCols = Seq(col("v") -> false), k = 3)
    assert(empty.count() == 0)
  }

  test("file-size-threshold splits by compressed bytes") {
    val out = tmp().resolve("sized.par")
    val files = ParquetSink.write(
      Tables.lineitem(spark, sf), out.toString,
      ParquetSink.Options(batchRows = 500, fileSizeThresholdBytes = 64 * 1024))
    assert(files.size > 1)
    files.dropRight(1).foreach(f => assert(Files.size(f) >= 64 * 1024))
    assert(spark.read.parquet(files.map(_.toString): _*).count() == 6000)
  }

  test("empty result: schema-only file by default, nothing with no-empty-file") {
    val empty = Tables.region(spark, sf).filter(lit(false))
    val out1 = tmp().resolve("empty.par")
    val files1 = ParquetSink.write(empty, out1.toString, ParquetSink.Options())
    assert(files1 == Seq(out1))
    val back = spark.read.parquet(out1.toString)
    assert(back.count() == 0 && back.schema.fieldNames.contains("r_name"))

    val out2 = tmp().resolve("none.par")
    val files2 = ParquetSink.write(empty, out2.toString,
      ParquetSink.Options(noEmptyFile = true))
    assert(files2.isEmpty && !Files.exists(out2))
  }

  test("stdout + splitting is rejected (validation parity main.rs:295-311)") {
    intercept[IllegalArgumentException] {
      Cli.parse(Seq("query", "--row-groups-per-file", "2", "-", "SELECT 1"))
    }
    intercept[IllegalArgumentException] {
      ParquetSink.write(Tables.region(spark, sf), "-",
        ParquetSink.Options(rowGroupsPerFile = 2))
    }
  }

  test("named placeholders rewrite: switched order, repeats, escapes (execute.rs:111-144)") {
    assert(JdbcSink.toPositionalArguments("INSERT INTO t (a,b) VALUES (?a?,?b?)") ==
      ("INSERT INTO t (a,b) VALUES (?,?)", Seq("a", "b")))
    assert(JdbcSink.toPositionalArguments("VALUES (?b?,?a?)") ==
      ("VALUES (?,?)", Seq("b", "a")))
    assert(JdbcSink.toPositionalArguments("VALUES (?a?,?a?,?b?)") ==
      ("VALUES (?,?,?)", Seq("a", "a", "b")))
    assert(JdbcSink.toPositionalArguments("""SELECT '\?' , ?x?""") ==
      ("SELECT '?' , ?", Seq("x")))
    intercept[IllegalArgumentException](JdbcSink.toPositionalArguments("VALUES (?a"))
    intercept[IllegalArgumentException](JdbcSink.toPositionalArguments("VALUES (??)"))
  }

  test("insert statement generation matches reference shape (insert.rs:55-66)") {
    assert(JdbcSink.insertStatement("t", Seq("a", "b", "c")) ==
      "INSERT INTO t (a, b, c) VALUES (?, ?, ?)")
  }

  test("derby round trip: insert appends, exec binds by name, repeated + switched") {
    val url = s"jdbc:derby:memory:etlspec${System.nanoTime()};create=true"
    val df = Tables.nation(spark, sf)
    JdbcSink.insert(df, url, "nations", batchRows = 7)
    // switched order + repeated name through the exec path
    JdbcSink.exec(df,
      """INSERT INTO nations ("n_name", "n_nationkey", "n_regionkey") VALUES (?n_name?, ?n_nationkey?, ?n_regionkey?)""",
      url, batchRows = 3)
    val back = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "nations").load()
    assert(back.count() == 50)
    assert(back.groupBy("n_nationkey").count().filter(col("count") =!= 2).count() == 0)
  }

  test("nested types are rejected for the reverse path (input.rs:188-193)") {
    import spark.implicits._
    val nested = Seq((1, Seq(1, 2))).toDF("a", "b")
    intercept[IllegalArgumentException] {
      JdbcSink.insert(nested, "jdbc:derby:memory:x", "t")
    }
  }

  test("batch sizing: min of row and memory limits; giant row errors") {
    val schema = Tables.lineitem(spark, sf).schema
    val w = BatchSizeLimit.bytesPerRow(schema)
    assert(w > 0)
    assert(BatchSizeLimit.effectiveRows(schema) == BatchSizeLimit.DefaultRows)
    assert(BatchSizeLimit.effectiveRows(schema, memoryLimitBytes = w * 10) == 10)
    intercept[IllegalArgumentException] {
      BatchSizeLimit.effectiveRows(schema, memoryLimitBytes = 1)
    }
  }

  test("cli: tables-dir query end-to-end with params and sink options") {
    val outDir = tmp()
    val out = outDir.resolve("cli.par")
    val (cmd, conf) = Cli.parse(Seq("query",
      "--tables-dir", sf,
      "--row-groups-per-file", "1",
      "--batch-size-row", "3000",
      "--suffix-length", "3",
      out.toString,
      "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity >= ? ORDER BY l_orderkey, l_linenumber",
      "1"))
    assert(cmd == "query")
    val files = Cli.runQuery(conf, Some(spark))
    assert(files.size >= 2) // ceil(6000 / 3000) at minimum
    assert(files.head.getFileName.toString == "cli_001.par")
    assert(spark.read.parquet(files.map(_.toString): _*).count() == 6000)
  }

  test("cli: --incremental-column pulls only the delta and atomically advances --state-path") {
    import graft.sources.JdbcSink
    val db = s"cliinc${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db;create=true"
    try {
      val src = Tables.orders(spark, sf).orderBy(col("o_orderkey")).limit(800)
        .select(col("o_orderkey").as("id"), col("o_totalprice").as("price"))
      JdbcSink.insert(src.orderBy(col("id")).limit(600), url, "inc_src")
      val dir = tmp()
      val state = dir.resolve("wm.txt")
      def run(out: String): Seq[java.nio.file.Path] = {
        val (_, conf) = Cli.parse(Seq("query", "-c", url,
          "--incremental-column", "\"id\"", "--state-path", state.toString,
          dir.resolve(out).toString, """SELECT "id", "price" FROM inc_src"""))
        Cli.runQuery(conf, Some(spark))
      }
      val first = run("pull1.par")
      val ids1 = spark.read.parquet(first.map(_.toString): _*)
        .select("id").collect().map(_.getLong(0)).sorted
      assert(ids1.length == 600, "first run with no state is a full pull")
      val wm = new String(java.nio.file.Files.readAllBytes(state), "UTF-8").trim.toLong
      assert(wm == ids1.last, "state must hold the max landed id")

      // 200 new rows land in the source; the second run must read ONLY them
      JdbcSink.insert(src.filter(col("id") > wm), url, "inc_src")
      val second = run("pull2.par")
      val ids2 = spark.read.parquet(second.map(_.toString): _*)
        .select("id").collect().map(_.getLong(0)).sorted
      assert(ids2.length == 200, s"delta pull must be exactly the new rows, got ${ids2.length}")
      assert(ids2.forall(_ > wm), "no re-read below the watermark")
      assert((ids1 ++ ids2).toSet ==
        src.select("id").collect().map(_.getLong(0)).toSet,
        "two pulls must cover the whole source exactly")
      val wm2 = new String(java.nio.file.Files.readAllBytes(state), "UTF-8").trim.toLong
      assert(wm2 == ids2.last, "state must advance to the new max")
    } finally {
      try { java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true"); () }
      catch { case _: java.sql.SQLException => () }
    }
  }

  test("cli: --incremental-column on TIMESTAMP and string columns pulls only the delta") {
    val db = s"cliincq${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db;create=true"
    try {
      val ddl = java.sql.DriverManager.getConnection(url)
      try ddl.createStatement().execute(
        "CREATE TABLE wm_src (id INT, ts TIMESTAMP, k VARCHAR(16))")
      finally ddl.close()
      // every key carries a quote, so the stored string watermark only
      // splices back into valid SQL if the quote is escaped
      def rows(from: Int, until: Int) = spark.range(from, until).select(
        col("id").cast("int").as("id"),
        timestamp_seconds(lit(1704067200L) + col("id")).as("ts"),
        format_string("k'%04d", col("id")).as("k"))
      JdbcSink.insert(rows(0, 600), url, "wm_src")
      val dir = tmp()
      def pull(column: String, out: String): Set[Int] = {
        val (_, conf) = Cli.parse(Seq("query", "-c", url,
          "--incremental-column", column,
          "--state-path", dir.resolve(s"$column.wm").toString,
          dir.resolve(out).toString, "SELECT id, ts, k FROM wm_src"))
        val files = Cli.runQuery(conf, Some(spark))
        spark.read.parquet(files.map(_.toString): _*)
          .collect().map(_.getInt(0)).toSet
      }
      assert(pull("ts", "ts1.par") == (0 until 600).toSet)
      assert(pull("k", "k1.par") == (0 until 600).toSet)
      JdbcSink.insert(rows(600, 800), url, "wm_src")
      assert(pull("ts", "ts2.par") == (600 until 800).toSet,
        "the TIMESTAMP watermark must select exactly the new rows")
      assert(pull("k", "k2.par") == (600 until 800).toSet,
        "the string watermark must select exactly the new rows")
      assert(new String(Files.readAllBytes(dir.resolve("k.wm")), "UTF-8") == "'k''0799'")
    } finally {
      try { java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true"); () }
      catch { case _: java.sql.SQLException => () }
    }
    // the --tables-dir path (Spark SQL) takes the same quoted literal
    val dir = tmp()
    def pullOrders(out: String): Long = {
      val (_, conf) = Cli.parse(Seq("query", "--tables-dir", sf,
        "--incremental-column", "o_orderdate",
        "--state-path", dir.resolve("orders.wm").toString,
        dir.resolve(out).toString, "SELECT o_orderkey, o_orderdate FROM orders"))
      spark.read.parquet(Cli.runQuery(conf, Some(spark)).map(_.toString): _*).count()
    }
    assert(pullOrders("o1.par") == Tables.orders(spark, sf).count())
    assert(pullOrders("o2.par") == 0, "nothing lies above the landed max")
  }

  test("cli: unknown flags and subcommands fail with usage") {
    intercept[IllegalArgumentException](Cli.parse(Seq("query", "--bogus")))
    intercept[IllegalArgumentException](Cli.main(Array("frobnicate")))
  }

  test("cli: --avoid-decimal rewrites decimal outputs (golden integration.rs:522-568)") {
    val out = tmp().resolve("avoid.par")
    val (_, conf) = Cli.parse(Seq("query",
      "--tables-dir", sf, "--avoid-decimal", out.toString,
      """SELECT CAST(o_totalprice AS DECIMAL(12,0)) AS i64,
        |       CAST(o_totalprice AS DECIMAL(9,0))  AS i32,
        |       CAST(o_totalprice AS DECIMAL(12,2)) AS txt
        |FROM orders LIMIT 10""".stripMargin))
    Cli.runQuery(conf, Some(spark))
    val schema = spark.read.parquet(out.toString).schema
    assert(schema("i64").dataType == org.apache.spark.sql.types.LongType)
    assert(schema("i32").dataType == org.apache.spark.sql.types.IntegerType)
    assert(schema("txt").dataType == org.apache.spark.sql.types.StringType)
  }

  test("cli: credential attribute escaping (connection.rs:55-61 parity)") {
    assert(Cli.escapeAttr("plain") == "plain")
    assert(Cli.escapeAttr("we;rd") == "{we;rd}")
    assert(Cli.escapeAttr("curly}brace") == "{curly}}brace}")
    assert(Cli.appendCredentials("Driver=x;", Some("u"), Some("p;w")) ==
      "Driver=x;UID=u;PWD={p;w};")
    assert(Cli.appendCredentials("", None, None) == "")
  }

  test("cli: byte-suffixed sizes parse (KiB/MiB/GiB)") {
    assert(Cli.parse(Seq("query", "--batch-size-memory", "2MiB", "o", "s"))
      ._2.batchSizeMemory == (2L << 20))
    assert(Cli.parse(Seq("query", "--file-size-threshold", "1GiB", "o", "s"))
      ._2.fileSizeThreshold == (1L << 30))
    assert(Cli.parse(Seq("query", "--batch-size-memory", "512KiB", "o", "s"))
      ._2.batchSizeMemory == (512L << 10))
    assert(Cli.parse(Seq("query", "--batch-size-memory", "4096", "o", "s"))
      ._2.batchSizeMemory == 4096L)
  }

  test("cli: --user/--password/--encoding parse and env fallback applies") {
    val (_, c) = Cli.parse(Seq("query", "-u", "alice", "-p", "s3cret",
      "--encoding", "Utf16", "out.par", "SELECT 1"))
    assert(c.user.contains("alice") && c.password.contains("s3cret"))
    assert(c.encoding == "Utf16")
  }

  test("cli: --prompt discards flag/env password and reads interactively") {
    val (_, c) = Cli.parse(Seq("query", "-p", "stale", "--prompt", "o", "s"))
    // an explicit prompt must never silently reuse a stale secret
    assert(c.promptPassword && c.password.isEmpty)
    val resolved = Cli.resolveCredentials(c, readSecret = () => "fresh-secret")
    assert(resolved.password.contains("fresh-secret"))
    // without --prompt, resolution is a no-op
    val (_, plain) = Cli.parse(Seq("query", "-p", "kept", "o", "s"))
    assert(Cli.resolveCredentials(plain, readSecret = () => fail("must not prompt"))
      .password.contains("kept"))
    // stdin query + stdin password cannot share one stream; with a console
    // attached the same invocation is fine — both paths forced explicitly
    val (_, both) = Cli.parse(Seq("query", "--prompt", "out.par", "-"))
    val e = intercept[IllegalArgumentException](
      Cli.resolveCredentials(both, "query", hasConsole = false, () => "x"))
    assert(e.getMessage.contains("stdin"))
    assert(Cli.resolveCredentials(both, "query", hasConsole = true, () => "tty-pw")
      .password.contains("tty-pw"))
  }

  test("cli: completions cover all five reference shells (E4 parity)") {
    for (shell <- Seq("bash", "zsh", "fish", "elvish", "powershell"))
      assert(Cli.completions(shell).contains("graft"), shell)
    // each script enumerates the subcommands
    assert(Cli.completions("elvish").contains("list-drivers"))
    assert(Cli.completions("powershell").contains("list-data-sources"))
    val e = intercept[IllegalArgumentException](Cli.completions("tcsh"))
    assert(e.getMessage.contains("powershell"))
  }

  test("stdout output streams a whole readable parquet (C4 parity)") {
    val sink = tmp().resolve("captured.par")
    val prev = System.out
    val fos = new java.io.FileOutputStream(sink.toFile)
    System.setOut(new java.io.PrintStream(fos))
    try ParquetSink.write(Tables.region(spark, sf), "-", ParquetSink.Options())
    finally { System.out.flush(); System.setOut(prev); fos.close() }
    assert(spark.read.parquet(sink.toString).count() == 5)
  }

  test("cli: query text '-' reads from stdin") {
    val out = tmp().resolve("stdin.par")
    val prev = System.in
    System.setIn(new java.io.ByteArrayInputStream(
      "SELECT r_regionkey FROM region ORDER BY r_regionkey".getBytes))
    try {
      val (_, conf) = Cli.parse(Seq("query", "--tables-dir", sf, out.toString, "-"))
      Cli.runQuery(conf, Some(spark))
    } finally System.setIn(prev)
    assert(spark.read.parquet(out.toString).count() == 5)
  }

  test("cli: verbosity flags map to log levels (logging parity)") {
    assert(Cli.parse(Seq("query", "-q", "o", "s"))._2.verbosity == -1)
    assert(Cli.parse(Seq("query", "-v", "-v", "o", "s"))._2.verbosity == 2)
    assert(Cli.logLevel(-1) == "ERROR" && Cli.logLevel(0) == "WARN" &&
      Cli.logLevel(1) == "INFO" && Cli.logLevel(2) == "DEBUG")
  }

  private def columnEncodings(p: java.nio.file.Path, col: String): Set[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString),
        new org.apache.hadoop.conf.Configuration()))
      .getFooter.getBlocks.asScala.head.getColumns.asScala
      .find(_.getPath.toDotString == col).get
      .getEncodings.asScala.map(_.toString).toSet
  }

  test("cli: --column-compression-level-default is observable in output size") {
    def sizeAt(level: Int): Long = {
      val out = tmp().resolve(s"lvl$level.par")
      val (_, conf) = Cli.parse(Seq("query", "--tables-dir", sf,
        "--column-compression-level-default", level.toString, out.toString,
        "SELECT text FROM documents ORDER BY doc_id"))
      Cli.runQuery(conf, Some(spark))
      Files.size(out)
    }
    assert(sizeAt(19) < sizeAt(1),
      "higher zstd level must compress the same text smaller")
  }

  test("cli: --parquet-column-encoding reaches the footer (main.rs:188-196)") {
    val out = tmp().resolve("enc.par")
    val (_, conf) = Cli.parse(Seq("query", "--tables-dir", sf,
      "--parquet-column-encoding", "p_type:plain", out.toString,
      "SELECT p_type, p_brand FROM part ORDER BY p_partkey"))
    Cli.runQuery(conf, Some(spark))
    assert(!columnEncodings(out, "p_type").exists(_.contains("DICTIONARY")))
    assert(columnEncodings(out, "p_type").contains("PLAIN"))
    // untouched column keeps its dictionary
    assert(columnEncodings(out, "p_brand").exists(_.contains("DICTIONARY")))
  }

  test("cli: column-encoding validation (enum, rle, plain/delta mix)") {
    intercept[IllegalArgumentException](
      Cli.parse(Seq("query", "--parquet-column-encoding", "a:bogus", "o", "s")))
    intercept[IllegalArgumentException](
      Cli.parse(Seq("query", "--parquet-column-encoding", "noseparator", "o", "s")))
    intercept[IllegalArgumentException](Cli.realizeEncodings(Seq("a" -> "rle")))
    intercept[IllegalArgumentException](
      Cli.realizeEncodings(Seq("a" -> "plain", "b" -> "delta-byte-array")))
    assert(Cli.realizeEncodings(Seq("a" -> "plain")) == ("v1", Map("a" -> false)))
    assert(Cli.realizeEncodings(Seq("a" -> "delta-binary-packed")) ==
      ("v2", Map("a" -> false)))
    assert(Cli.realizeEncodings(Nil) == ("v2", Map.empty))
  }

  test("cli: --driver-does-not-support-64bit-integers leaves output unchanged") {
    // the reference contract (main.rs:197-203): only the fetch strategy
    // changes (text + tool-side parse); values and schema are identical
    val sql = """SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,0)) AS big
                |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin
    def run(flags: Seq[String], name: String) = {
      val out = tmp().resolve(name)
      val (_, conf) = Cli.parse(Seq("query", "--tables-dir", sf) ++ flags ++
        Seq(out.toString, sql))
      Cli.runQuery(conf, Some(spark))
      spark.read.parquet(out.toString)
    }
    val plain = run(Seq.empty, "with64.par")
    val viaText = run(Seq("--driver-does-not-support-64bit-integers"), "no64.par")
    assert(viaText.schema == plain.schema)
    assert(viaText.exceptAll(plain).isEmpty && plain.exceptAll(viaText).isEmpty)
  }

  test("compaction hits the file-size target and preserves every row") {
    val dir = tmp()
    Tables.lineitem(spark, sf).repartition(24)
      .write.parquet(dir.resolve("small").toString)
    val inBytes = Files.list(dir.resolve("small")).iterator()
      .asScalaSeq.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    val files = graft.sources.Compact.compact(spark,
      dir.resolve("small").toString, dir.resolve("big").toString,
      targetBytes = inBytes / 4)
    // ceil(bytes/target) = 4-5 files, far fewer than 24
    assert(files.size >= 2 && files.size <= 6, s"got ${files.size} files")
    val back = spark.read.parquet(dir.resolve("big").toString)
    assert(back.count() == 6000)
    assert(back.agg(org.apache.spark.sql.functions.sum(col("l_orderkey")))
      .head.getLong(0) ==
      Tables.lineitem(spark, sf).agg(
        org.apache.spark.sql.functions.sum(col("l_orderkey"))).head.getLong(0))
  }

  test("orc and xml round-trip hostile strings byte-for-byte (e11/e12 fidelity)") {
    import spark.implicits._
    // the cases each format is most likely to corrupt: XML entities and
    // CDATA terminators, embedded newlines/tabs, edge whitespace (the XML
    // reader DEFAULT trims these), empty-vs-NULL, and non-ASCII
    val hostile = Seq(
      (1L, "plain"),
      (2L, "amp & lt < gt > quote \" apos ' cdata ]]>"),
      (3L, "multi\nline\twith\ttabs"),
      (4L, "  edge  spaces  "),
      (5L, "unicode é中😀"),
      (6L, null.asInstanceOf[String]),
      (7L, "")
    ).toDF("id", "v")
    val dir = tmp()
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Option[String])] =
      df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq.sortBy(_._1)
    val want = pairs(hostile)

    val orcOut = dir.resolve("h.orc").toString
    hostile.write.mode("overwrite").option("compression", "zstd").orc(orcOut)
    assert(pairs(spark.read.schema(hostile.schema).orc(orcOut)) == want)

    val xmlOut = dir.resolve("h.xml").toString
    hostile.write.mode("overwrite").option("rowTag", "doc").format("xml").save(xmlOut)
    assert(pairs(spark.read.schema(hostile.schema)
      .option("rowTag", "doc")
      .option("ignoreSurroundingSpaces", "false")
      .format("xml").load(xmlOut)) == want)
  }

  test("z-order curve: bit interleave exact values, grid structure, codegen parity") {
    import graft.functions.ZOrderCurve._
    // spread16 dilates bit i to position 2i
    assert(spread16(0) == 0L)
    assert(spread16(1) == 1L)
    assert(spread16(0xffff) == 0x55555555L)
    assert(spread16(0x8000) == 0x40000000L)
    // interleave: a odd bits, b even bits
    assert(interleave16(0, 0) == 0L)
    assert(interleave16(1, 1) == 3L)
    assert(interleave16(2, 1) == 9L)
    assert(interleave16(0xffff, 0) == 0xaaaaaaaaL)
    assert(interleave16(0, 0xffff) == 0x55555555L)
    // grid structure: the top 2 code bits are (a15, b15) — every point in
    // the a-high half-plane sorts after every point in the a-low half-plane
    // whose b is also low ⇒ equal z-ranges tile the plane as a grid
    assert(interleave16(0x8000, 0) > interleave16(0x7fff, 0x7fff))
    // scale16 clamps and maps bounds to code-space extremes
    assert(scale16(5.0, 5.0, 10.0) == 0)
    assert(scale16(10.0, 5.0, 10.0) == 65535)
    assert(scale16(-1.0, 0.0, 1.0) == 0 && scale16(2.0, 0.0, 1.0) == 65535)
    assert(scale16(1.0, 1.0, 1.0) == 0, "degenerate bounds collapse to one cell")

    // expression evaluates identically through codegen
    import spark.implicits._
    import graft.functions.ZOrderFunctions.zorder2
    val df = Seq((1, 1), (0xffff, 0), (0, 0xffff), (1234, 4321))
      .toDF("a", "b")
      .select(col("a"), col("b"), zorder2(col("a"), col("b")).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == graft.functions.ZOrderCurve.interleave16(r.getInt(0), r.getInt(1)))
    }
  }

  private implicit class IterSeq[A](it: java.util.Iterator[A]) {
    def asScalaSeq: Seq[A] = {
      val b = Seq.newBuilder[A]
      while (it.hasNext) b += it.next()
      b.result()
    }
  }

  test("cli: completions cover bash/zsh/fish and reject unknown shells") {
    Seq("bash", "zsh", "fish").foreach { sh =>
      val script = Cli.completions(sh)
      assert(script.contains("graft"))
      assert(script.contains("list-drivers"), s"$sh must complete subcommands")
    }
    intercept[IllegalArgumentException](Cli.completions("tcsh"))
  }

  test("cli: list-data-sources parses the configured-URL env (E2 reinterpretation)") {
    // no JDBC analog of ODBC DSNs: sources come from GRAFT_JDBC_URLS
    assert(Cli.listDataSources(Some("jdbc:derby:memory:a, jdbc:postgresql://h/db")) ==
      Seq("jdbc:derby:memory:a", "jdbc:postgresql://h/db"))
    assert(Cli.listDataSources(Some("")) == Seq.empty)
    assert(Cli.listDataSources(None) == Seq.empty)
  }

  test("cli: list-drivers sees the embedded derby driver") {
    // force driver registration the same way a connection would
    java.sql.DriverManager.getConnection(
      s"jdbc:derby:memory:drv${System.nanoTime()};create=true").close()
    assert(Cli.listDrivers().exists(_.toLowerCase.contains("derby")))
  }

  test("e17: merging an empty delta partial is a no-op refresh") {
    // the degenerate refresh every scheduled pipeline eventually hits:
    // no new rows arrived. snapshot ∪ partial(∅) re-aggregated must be
    // row-identical to the one-shot aggregate — empty groups contribute
    // nothing, and no group's n/sv/min/max moves
    import graft.operators.EtlQueries
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), col("ts_ns"))
    val snapshot = EtlQueries.e17Partial(ev)
    val emptyDelta = EtlQueries.e17Partial(ev.filter(lit(false)))
    assert(emptyDelta.count() == 0)
    val refreshed = EtlQueries.e17Merge(snapshot.unionByName(emptyDelta))
      .orderBy(col("event_type")).collect()
    val oneShot = EtlQueries.e17Merge(snapshot)
      .orderBy(col("event_type")).collect()
    assert(refreshed.sameElements(oneShot),
      "an empty delta must not change any group's totals")
    assert(refreshed.nonEmpty)
  }

  test("e22: AQE splits the hot-key partition and the result matches a plain join") {
    import graft.operators.EtlQueries
    val rows = EtlQueries.e22AqeSkewJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    // the runtime rule must actually have fired (skew=true in the final
    // adaptive plan) — the gate column carries the verdict
    assert(rows.forall(_.getBoolean(3)),
      "OptimizeSkewedJoin must mark the sort-merge join skew=true")
    // and splitting must not change the answer: compare against the same
    // aggregate through the default (broadcast, no-AQE-skew) path
    val direct = Tables.lineitem(spark, sf)
      .selectExpr("CASE WHEN l_suppkey % 10 < 4 THEN CAST(1 AS BIGINT) " +
        "ELSE l_suppkey END AS k", "l_quantity")
      .join(Tables.supplier(spark, sf).selectExpr("s_suppkey AS k", "s_nationkey"), "k")
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("s_nationkey")).collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      direct.map(r => (r.getInt(0), r.getLong(1))).toSeq,
      "skew-split join must produce the identical aggregate")
  }

  test("e20: incremental JDBC ingest — delta exact, watermark from the lake, totals whole") {
    import graft.operators.EtlQueries
    val r = EtlQueries.e20JdbcIncremental(spark, sf).head
    // schema: n_rows, n_custs, total_price, delta_ok, watermark_ok
    assert(r.getBoolean(3), "delta pull must return exactly the inserted rows, all above the watermark")
    assert(r.getBoolean(4), "watermark must derive from the landed lake")
    // the lake holds the WHOLE slice after both cycles: equal to the
    // direct parquet-side aggregate of the same slice
    val direct = Tables.orders(spark, sf).orderBy(col("o_orderkey")).limit(2000)
      .agg(count(lit(1)), countDistinct(col("o_custkey"))).head
    assert(r.getLong(0) == direct.getLong(0) && r.getLong(1) == direct.getLong(1),
      s"lake totals ${(r.getLong(0), r.getLong(1))} != source ${(direct.getLong(0), direct.getLong(1))}")
  }
}
