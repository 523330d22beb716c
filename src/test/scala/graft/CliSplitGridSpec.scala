package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cli.Cli
import scala.jdk.CollectionConverters._

/** The reference's file-splitting grid, end-to-end at the CLI surface
  * (integration.rs:1352-1698): every cell of
  * {no rows, rows} × {--no-empty-file, default} × {no split,
  * --row-groups-per-file, --file-size-threshold} drives `Cli.parse` +
  * `Cli.runQuery` and asserts the reference's observable contract —
  * file presence/absence, `_NN` zero-padded extension-preserving
  * numbering from 1, per-file row caps, and schema-only files for empty
  * results. Files are cut at row-group boundaries like the reference's,
  * but every write task's last row group may be short of a batch (the
  * deviation documented in `ParquetSink`), so for a multi-partition source
  * the pinned invariants are per-file caps + contiguous numbering + exact
  * union, not an exact file count; a single-cursor JDBC source gives the
  * reference's exact count, and either way the files in name order hold
  * the rows in ORDER BY order. */
class CliSplitGridSpec extends AnyFunSuite {
  import TestSession._

  private def tmp(): Path = Files.createTempDirectory("graft-grid")

  private val emptySql = "SELECT n_nationkey FROM nation WHERE n_nationkey < 0"
  private val rowsSql = "SELECT n_nationkey FROM nation ORDER BY n_nationkey"

  private def run(out: Path, sql: String, extra: String*): Seq[Path] = {
    val (cmd, conf) = Cli.parse(
      Seq("query", "--tables-dir", sf) ++ extra ++ Seq(out.toString, sql))
    assert(cmd == "query")
    Cli.runQuery(conf, Some(spark))
  }

  private def filesIn(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq.sorted

  test("no rows + --no-empty-file: no file at all, with and without splitting") {
    // integration.rs:1352 (plain) and :1396 (the split-files regression:
    // --no-empty-file must suppress the SUFFIXED names too)
    for (split <- Seq(Seq.empty[String],
        Seq("--row-groups-per-file", "1", "--batch-size-row", "10"),
        Seq("--file-size-threshold", "1B", "--batch-size-row", "10"))) {
      val dir = tmp()
      val out = dir.resolve("out.par")
      val written = run(out, emptySql, "--no-empty-file" +: split: _*)
      assert(written.isEmpty, s"split=$split must write nothing")
      assert(filesIn(dir).isEmpty,
        s"split=$split left files behind: ${filesIn(dir)}")
    }
  }

  test("no rows without the flag: schema-only file at the exact path") {
    for (split <- Seq(Seq.empty[String],
        Seq("--row-groups-per-file", "1", "--batch-size-row", "10"))) {
      val dir = tmp()
      val out = dir.resolve("out.par")
      val written = run(out, emptySql, split: _*)
      assert(written == Seq(out), s"split=$split: expected exactly $out")
      val back = spark.read.parquet(out.toString)
      assert(back.count() == 0)
      assert(back.schema.fieldNames.toSeq == Seq("n_nationkey"),
        "schema-only file must carry the result schema (parquet_writer.rs:117-121)")
    }
  }

  test("rows despite --no-empty-file: the file is written (integration.rs:1438)") {
    val dir = tmp()
    val out = dir.resolve("out.par")
    val written = run(out, rowsSql, "--no-empty-file")
    assert(written == Seq(out))
    assert(spark.read.parquet(out.toString).count() == 25)
  }

  test("row-group splitting: contiguous _NN numbering from 1, per-file cap, exact union") {
    // integration.rs:1513 + 1567 (numbering must start at 1); our cap is
    // rows-per-file = row-groups-per-file × batch-size-row
    val dir = tmp()
    val out = dir.resolve("out.par")
    val written = run(out, rowsSql,
      "--batch-size-row", "3", "--row-groups-per-file", "2", "--no-empty-file")
    assert(written.size >= 5, s"25 rows / 3-row groups → 9 row groups → ≥5 files, got ${written.size}")
    val expectedNames = (1 to written.size).map(i => f"out_$i%02d.par")
    assert(written.map(_.getFileName.toString) == expectedNames,
      s"naming must be contiguous from _01: ${written.map(_.getFileName)}")
    val perFile = written.map(p => spark.read.parquet(p.toString).count())
    assert(perFile.forall(_ <= 6), s"per-file cap exceeded: $perFile")
    val union = spark.read.parquet(written.map(_.toString): _*)
    assert(union.count() == 25)
    assert(union.agg(countDistinct(col("n_nationkey"))).head.getLong(0) == 25)
  }

  test("size-threshold splitting: every file numbered, threshold reached → new file") {
    // integration.rs:1612 — 1B threshold means every batch starts a new file
    val dir = tmp()
    val out = dir.resolve("out.par")
    val written = run(out, rowsSql,
      "--batch-size-row", "10", "--file-size-threshold", "1B")
    assert(written.size >= 2)
    assert(written.map(_.getFileName.toString) ==
      (1 to written.size).map(i => f"out_$i%02d.par"))
    assert(spark.read.parquet(written.map(_.toString): _*).count() == 25)
  }

  /** The first column of `files`' rows, read one file at a time in name
    * order. */
  private def firstColumnInNameOrder(files: Seq[Path]): Seq[Any] =
    files.sortBy(_.getFileName.toString).flatMap(f =>
      spark.read.parquet(f.toString).collect().map(_.get(0)).toSeq)

  test("split files keep ORDER BY order; one JDBC cursor gives ceil(rows / (batch × N)) files") {
    val db = s"gridorder${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute("CREATE TABLE T (ID INT, V VARCHAR(20))")
      val ins = conn.prepareStatement("INSERT INTO T VALUES (?, ?)")
      new scala.util.Random(7).shuffle((1 to 1000).toVector).foreach { i =>
        ins.setInt(1, i); ins.setString(2, s"v$i"); ins.addBatch()
      }
      ins.executeBatch()
      for (n <- Seq(1, 3)) {
        val dir = tmp()
        val (_, conf) = Cli.parse(Seq("query", "-c", url, "--batch-size-row", "100",
          "--row-groups-per-file", n.toString, dir.resolve("t.par").toString,
          "SELECT * FROM T ORDER BY ID"))
        val written = Cli.runQuery(conf, Some(spark))
        assert(written.size == (1000 + 100 * n - 1) / (100 * n),
          s"N=$n: ${written.size} files")
        assert(firstColumnInNameOrder(written) == (1 to 1000), s"N=$n: rows out of order")
      }
    } finally {
      conn.close()
      try { java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true"); () }
      catch { case _: java.sql.SQLException => () }
    }

    // an aggregate sorted on its result: shuffled, range-partitioned input
    val sql = "SELECT l_orderkey, SUM(l_quantity) AS q FROM lineitem " +
      "GROUP BY l_orderkey ORDER BY q DESC, l_orderkey"
    for (split <- Seq(Seq("--row-groups-per-file", "1"), Seq("--file-size-threshold", "2KiB"))) {
      val dir = tmp()
      val written = run(dir.resolve("agg.par"), sql, "--batch-size-row" +: "100" +: split: _*)
      assert(written.size > 1, s"$split: expected a split")
      val expected = spark.sql(sql).collect().map(_.get(0)).toSeq
      assert(firstColumnInNameOrder(written) == expected, s"$split: rows out of order")
    }
  }

  test("one-row-group source: row groups are [B, …, B, N mod B] in source order, split or not") {
    import spark.implicits._
    // a tables-dir file of N rows in ONE row group: one reading task, its
    // batches spread over the encoder pool
    val tables = tmp()
    val n = 1037
    new scala.util.Random(11).shuffle((0 until n).toVector).toDF("v").coalesce(1)
      .write.parquet(tables.resolve("src.parquet").toString)
    val srcGroups = Files.list(tables.resolve("src.parquet")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(rowGroupRows).toSeq
    assert(srcGroups == Seq(Seq(n.toLong)), s"fixture must be one row group: $srcGroups")
    val expected = spark.read.parquet(tables.resolve("src.parquet").toString)
      .coalesce(1).collect().map(_.get(0)).toSeq
    for (split <- Seq(Seq.empty[String], Seq("--row-groups-per-file", "3"),
        Seq("--file-size-threshold", "1B"))) {
      val dir = tmp()
      val (_, conf) = Cli.parse(Seq("query", "--tables-dir", tables.toString,
        "--batch-size-row", "100") ++ split ++ Seq(dir.resolve("o.par").toString,
        "SELECT * FROM src"))
      val written = Cli.runQuery(conf, Some(spark))
      val groups = written.sortBy(_.getFileName.toString).flatMap(rowGroupRows)
      assert(groups == Seq.fill(n / 100)(100L) :+ (n % 100).toLong, s"$split: $groups")
      assert(firstColumnInNameOrder(written) == expected, s"$split: values out of source order")
    }
  }

  private def rowGroupRows(p: Path): Seq[Long] = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString), new org.apache.hadoop.conf.Configuration()))
    try r.getRowGroups.asScala.map(_.getRowCount).toSeq finally r.close()
  }

  test("-v logs one sink line: batch, bytes per row, files, row groups, bytes, phase times") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-sink-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit =
        if (e.getLoggerName == "graft.sources.ParquetSink")
          lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    val written = try run(tmp().resolve("v.par"), rowsSql,
        "-v", "--batch-size-row", "10", "--row-groups-per-file", "1")
      finally {
        root.removeAppender(capture.getName)
        spark.sparkContext.setLogLevel("WARN")
      }
    val logged = lines.asScala.toSeq
    assert(logged.size == 1, s"one sink line expected: $logged")
    val bytes = written.map(Files.size(_)).sum
    assert(logged.head.matches(
      s"batch 10 rows, estimated \\d+ bytes per row; wrote ${written.size} files, " +
        s"${written.size} row groups, " +
        s"$bytes bytes; Spark write \\d+\\.\\d\\d s, post-pass \\d+\\.\\d\\d s"),
      logged.head)
  }

  test("configurable suffix length (integration.rs:1656)") {
    val dir = tmp()
    val out = dir.resolve("out.par")
    val written = run(out, rowsSql,
      "--batch-size-row", "10", "--file-size-threshold", "1B",
      "--suffix-length", "4")
    assert(written.head.getFileName.toString == "out_0001.par")
  }
}
