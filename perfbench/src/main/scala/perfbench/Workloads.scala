package perfbench

import java.nio.file.{Files, Path}

import graft.cli.Cli
import graft.functions.TypeMapping
import graft.sources.{BatchSizeLimit, JdbcSink, ParquetSink, PhysicalFormat}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Project
import scala.jdk.CollectionConverters._

/** What the benchmark shares across a run. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, cpus: Int,
    rec: SparkRecorder, tracer: Tracer)

/** One op: its wall time, the rows it landed, the bytes it left, and the
  * output checks that failed. `completed` is false when the op threw.
  * `findings` are places where correct output departs from the reference
  * CLI's file layout or physical types; they do not fail the op.
  * `steal` is the share of the CPU time wanted during the op that the host
  * ran something else instead (0 where it was not read). */
final case class OpResult(seconds: Double, rows: Long, outBytes: Long, failures: Seq[String],
    completed: Boolean = true, steal: Double = 0.0, findings: Seq[String] = Seq.empty) {
  /** The wall time less the host's steal: what the op takes on CPUs it
    * does not share. */
  def netSeconds: Double = seconds * (1 - steal)
}

/** A fixture as landed: where it lives, and its row checksum and hash. */
final case class Fixture(table: Fixtures.Table, file: Option[Path], landed: Fixtures.Landed)

abstract class Workload(val name: String) {
  /** Generate and land the inputs; nothing here is timed as an op. */
  def prepare(ctx: Ctx): Seq[Fixture]
  /** The CLI op, timed from the call into `Cli` to its return. */
  def op(ctx: Ctx, dir: Path): OpResult
  /** The same op replayed layer by layer under the tracer; returns the
    * per-layer metrics of this op. */
  def replay(ctx: Ctx, dir: Path, traceId: Int): (OpResult, Map[String, Double])
  /** A parquet file DuckDB copies as the external reference point;
    * `lastOp` is the output directory of the run's last op. */
  def duckdbInput(ctx: Ctx, lastOp: Path): Path

  /** The result of `f`, its wall time and the host's steal share over it. */
  protected def timed[T](f: => T): (T, Double, Double) = {
    val c0 = HostCpu.read()
    val t0 = System.nanoTime()
    val r = f
    val s = (System.nanoTime() - t0) / 1e9
    (r, s, HostCpu.stealFrac(c0, HostCpu.read()))
  }

  protected def threw(e: Throwable): OpResult = OpResult(0, 0, 0,
    Seq(s"op threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"),
    completed = false)
}

/** Host CPU time from /proc/stat, in clock ticks summed over all CPUs:
  * `busy` is user, nice, system, irq and softirq time; `steal` is time a
  * virtual CPU wanted to run while the host ran something else. */
object HostCpu {
  final case class Ticks(busy: Long, steal: Long)

  def read(): Ticks = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    Ticks(f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
  } catch { case _: java.io.IOException => Ticks(0, 0) }

  /** Share of the CPU time wanted between `a` and `b` that the host stole. */
  def stealFrac(a: Ticks, b: Ticks): Double = {
    val steal = b.steal - a.steal
    val wanted = b.busy - a.busy + steal
    if (wanted > 0) steal.toDouble / wanted else 0.0
  }
}

object Workload {
  def apply(name: String): Workload = name match {
    case "jdbc_export" => new JdbcExport(400000)
    case "split_export" => new SplitExport(300000)
    case "reverse_insert" => new ReverseInsert(300000)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The per-layer metrics every traced run reports; one that a workload's
    * path does not touch reads 0. */
  val LayerMetrics: Seq[String] = Seq(
    "cli.register_s", "cli.tables_registered",
    "source.open_s", "source.fetch_s", "source.partitions",
    "type_mapping.convert_s", "type_mapping.cols_rewritten",
    "batch_size_limit.rows", "batch_size_limit.bytes_per_row",
    "parquet_sink.write_s", "parquet_sink.files", "parquet_sink.row_groups",
    "parquet_sink.bytes", "parquet_sink.write_amp",
    "physical_format.strip_s", "physical_format.rewrite_s", "physical_format.rows_reencoded",
    "jdbc_sink.insert_s", "jdbc_sink.connections",
    "spark.jobs", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.driver_gap_s", "spark.slot_util")

  def fileRows(p: Path): Long = Checks.footer(p).getBlocks.asScala.map(_.getRowCount).sum

  def hasTimeColumn(p: Path): Boolean =
    Checks.footer(p).getFileMetaData.getSchema.getFields.asScala.exists(f =>
      f.isPrimitive && f.getLogicalTypeAnnotation
        .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.TimeLogicalTypeAnnotation])

  /** The Spark part of an op's layer metrics: jobs and tasks within the op
    * span, executor and GC time, the Spark driver's share of the wall time
    * outside any job, and how many of the `cpus` slots the jobs kept busy. */
  def sparkMetrics(ctx: Ctx, op: Span): Map[String, Double] = {
    val w = ctx.rec.window(op.startMs, op.endMs)
    Map("spark.jobs" -> w.jobs.toDouble, "spark.tasks" -> w.tasks.toDouble,
      "spark.task_s" -> w.taskS, "spark.gc_s" -> w.gcS,
      "spark.driver_gap_s" -> math.max(0.0, op.seconds - w.jobUnionS),
      "spark.slot_util" -> (if (w.jobUnionS > 0) w.taskS / (ctx.cpus * w.jobUnionS) else 0.0))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Projections of `mapped` that are not a bare column pass-through. */
  def rewrittenColumns(mapped: DataFrame): Int = mapped.queryExecution.analyzed match {
    case Project(list, _) => list.count(e => !e.isInstanceOf[AttributeReference])
    case _ => 0
  }
}

/** `query` to parquet: the shared op, checks and layer replay of the two
  * export workloads. */
abstract class Export(name: String) extends Workload(name) {
  protected def sourceFlags(ctx: Ctx): Seq[String]
  protected def splitFlags: Seq[String] = Seq.empty
  protected def sql: String
  protected def outName: String
  protected def expected: Checksum.Sum
  /** Parquet files `query --tables-dir` registers as views (none for JDBC). */
  protected def tableFiles(ctx: Ctx): Seq[Path] = Seq.empty
  protected def extraChecks(files: Seq[Path], dir: Path): Seq[String] = Seq.empty
  protected def extraFindings(files: Seq[Path]): Seq[String] = Seq.empty

  private def argv(ctx: Ctx, dir: Path): Seq[String] =
    Seq("query", "-q") ++ sourceFlags(ctx) ++ splitFlags ++ Seq(dir.resolve(outName).toString, sql)

  private def check(files: Seq[Path], dir: Path, batchRows: Int, seconds: Double): OpResult = {
    val (rows, fails) = Checks.exportFailures(files, expected)
    OpResult(seconds, rows, files.map(Files.size(_)).sum, fails ++ extraChecks(files, dir),
      findings = Checks.rowGroupFindings(files, batchRows) ++ extraFindings(files))
  }

  def op(ctx: Ctx, dir: Path): OpResult = {
    val (_, conf) = Cli.parse(argv(ctx, dir))
    try {
      val (files, s, steal) = timed(Cli.runQuery(conf, Some(ctx.spark)))
      check(files, dir, conf.batchSizeRow, s).copy(steal = steal)
    } catch { case e: Exception => threw(e) }
  }

  /** `Cli.runQuery`'s call sequence through the same public functions, one
    * child span per call; the fidelity re-encode runs as its own span per
    * output file. The lazy source and mapped frames are then materialized
    * through the `noop` sink outside the op span to give their self times. */
  def replay(ctx: Ctx, dir: Path, traceId: Int): (OpResult, Map[String, Double]) = {
    val (_, conf) = Cli.parse(argv(ctx, dir))
    val spark = ctx.spark
    val t = ctx.tracer
    val out = dir.resolve(outName).toString
    val tables = tableFiles(ctx)
    t.begin(traceId)
    ctx.rec.clear()
    var df: DataFrame = null
    var mapped: DataFrame = null
    var written = Seq.empty[Path]
    try t.span("op") {
      t.span("cli.register") {
        graft.functions.TimeKernels.registerAll(spark)
        if (tables.nonEmpty) {
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        }
        tables.foreach { p =>
          t.span("physical_format.read_spark_compatible") {
            PhysicalFormat.readSparkCompatible(spark, p)
          }.createOrReplaceTempView(p.getFileName.toString.stripSuffix(".parquet"))
        }
      }
      df = t.span("source.open") {
        conf.connectionString match {
          case Some(url) => spark.read.format("jdbc").option("url", url)
            .option("query", sql).option("fetchsize", conf.batchSizeRow.toString).load()
          case None => spark.sql(sql)
        }
      }
      mapped = t.span("type_mapping.apply_options") {
        TypeMapping.applyOptions(df, TypeMapping.MappingOptions(
          avoidDecimal = conf.avoidDecimal, preferVarbinary = conf.preferVarbinary,
          columnLengthLimit = conf.columnLengthLimit,
          driverSupports64Bit = conf.driverSupports64Bit))
      }
      val rows = t.span("batch_size_limit.effective_rows") {
        BatchSizeLimit.effectiveRows(mapped.schema, conf.batchSizeRow, conf.batchSizeMemory)
      }
      val (writerVersion, dictionary) = Cli.realizeEncodings(conf.columnEncodings)
      written = t.span("parquet_sink.write") {
        ParquetSink.write(mapped, out, ParquetSink.Options(
          compression = conf.columnCompressionDefault,
          compressionLevel = conf.columnCompressionLevel,
          batchRows = rows, rowGroupsPerFile = conf.rowGroupsPerFile,
          fileSizeThresholdBytes = conf.fileSizeThreshold,
          suffixLength = conf.suffixLength, noEmptyFile = conf.noEmptyFile,
          writerVersion = writerVersion, columnDictionary = dictionary,
          physicalFidelity = false))
      }
      written.foreach { p =>
        t.span("physical_format.rewrite") {
          PhysicalFormat.rewrite(p, mapped.schema, conf.columnCompressionDefault,
            conf.columnCompressionLevel, writerVersion, dictionary)
        }
      }
    } catch { case e: Exception => return (threw(e), Map.empty) }
    // the CLI re-encodes inside its staging directory and deletes it; the
    // replay re-encodes in place, so it removes the hidden checksum files
    // the re-encode's temporary file leaves beside the outputs
    written.map(_.getParent).distinct.foreach { d =>
      Files.list(d).iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        n.startsWith(".") && n.endsWith(".crc")
      }.toSeq.foreach(Files.delete)
    }
    ctx.rec.drain()
    val opSpan = t.last(traceId, "op")
    val sink = t.last(traceId, "parquet_sink.write")
    val spark_ = Workload.sparkMetrics(ctx, opSpan)
    val sinkTaskBytes = ctx.rec.window(sink.startMs, sink.endMs).bytesWritten
    t.span("probe.source")(Workload.noop(df))
    t.span("probe.mapped")(Workload.noop(mapped))

    val result = check(written, dir, conf.batchSizeRow, opSpan.seconds)
    val finalBytes = written.map(Files.size(_)).sum.toDouble
    val rewritten = PhysicalFormat.needed(mapped.schema)
    val stripped = tables.filter(Workload.hasTimeColumn)
    val layers = Map(
      "cli.register_s" -> t.total(traceId, "cli.register"),
      "cli.tables_registered" -> tables.size.toDouble,
      "source.open_s" -> t.total(traceId, "source.open"),
      "source.fetch_s" -> t.total(traceId, "probe.source"),
      "source.partitions" -> df.queryExecution.toRdd.getNumPartitions.toDouble,
      "type_mapping.convert_s" ->
        math.max(0.0, t.total(traceId, "probe.mapped") - t.total(traceId, "probe.source")),
      "type_mapping.cols_rewritten" -> Workload.rewrittenColumns(mapped).toDouble,
      "batch_size_limit.rows" ->
        BatchSizeLimit.effectiveRows(mapped.schema, conf.batchSizeRow, conf.batchSizeMemory).toDouble,
      "batch_size_limit.bytes_per_row" -> BatchSizeLimit.bytesPerRow(mapped.schema).toDouble,
      "parquet_sink.write_s" -> sink.seconds,
      "parquet_sink.files" -> written.size.toDouble,
      "parquet_sink.row_groups" -> written.map(Checks.footer(_).getBlocks.size).sum.toDouble,
      "parquet_sink.bytes" -> finalBytes,
      "parquet_sink.write_amp" ->
        (sinkTaskBytes + (if (rewritten) finalBytes else 0.0)) / math.max(1.0, finalBytes),
      "physical_format.strip_s" -> t.total(traceId, "physical_format.read_spark_compatible"),
      "physical_format.rewrite_s" -> t.total(traceId, "physical_format.rewrite"),
      "physical_format.rows_reencoded" ->
        ((if (rewritten) written.map(Workload.fileRows).sum else 0L) +
          stripped.map(Workload.fileRows).sum).toDouble
    ) ++ spark_
    (result, layers)
  }
}

/** Single-cursor `query -c <derby> 'SELECT * FROM LINEITEM'` written as one
  * file with the reference defaults (zstd-3, writer v2, 65,535-row
  * batches). */
final class JdbcExport(rows: Int) extends Export("jdbc_export") {
  private val table = Fixtures.lineitem(rows)
  private var landed: Fixtures.Landed = _
  private def url(ctx: Ctx) = s"jdbc:derby:memory:pbsrc${ctx.seed}"
  protected def sourceFlags(ctx: Ctx) = Seq("-c", url(ctx))
  protected val sql = "SELECT * FROM LINEITEM"
  protected val outName = "lineitem.par"
  protected def expected: Checksum.Sum = landed.sum

  def prepare(ctx: Ctx): Seq[Fixture] = {
    val conn = java.sql.DriverManager.getConnection(url(ctx) + ";create=true")
    try landed = Fixtures.loadDerby(conn, table, ctx.seed) finally conn.close()
    Seq(Fixture(table, None, landed))
  }

  override protected def extraChecks(files: Seq[Path], dir: Path): Seq[String] =
    if (files.size == 1) Seq.empty else Seq(s"${files.size} files, expected one")
  def duckdbInput(ctx: Ctx, lastOp: Path): Path = lastOp.resolve(outName)
}

/** `query --tables-dir --batch-size-row 20000 --file-size-threshold 2MiB`
  * over a warehouse folder: a fact table with TIME(MILLIS) and FLBA(16)
  * columns, and two small tables the query does not read. */
final class SplitExport(rows: Int) extends Export("split_export") {
  private val fact = Fixtures.fact(rows)
  private val dims = Seq(Fixtures.dimTime(2000), Fixtures.dimPlain(2000))
  private var landed: Fixtures.Landed = _
  private def dir(ctx: Ctx) = ctx.work.resolve("warehouse")
  protected def sourceFlags(ctx: Ctx) = Seq("--tables-dir", dir(ctx).toString)
  override protected val splitFlags = Seq("--batch-size-row", "20000", "--file-size-threshold", "2MiB")
  protected val sql = "SELECT * FROM fact"
  protected val outName = "fact.par"
  protected def expected: Checksum.Sum = landed.sum
  override protected def tableFiles(ctx: Ctx): Seq[Path] =
    Files.list(dir(ctx)).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sorted

  def prepare(ctx: Ctx): Seq[Fixture] = {
    Files.createDirectories(dir(ctx))
    (fact +: dims).map { t =>
      val p = dir(ctx).resolve(t.name + ".parquet")
      val l = Fixtures.writeParquet(p, t, ctx.seed)
      if (t eq fact) landed = l
      Fixture(t, Some(p), l)
    }
  }

  override protected def extraChecks(files: Seq[Path], dir: Path): Seq[String] =
    Checks.suffixFailures(files, dir, "fact", ".par", 2) ++
      columnMismatches(files, "f_time", "INT32 TIME(MILLIS,false)") ++
      (if (files.size > 1) Nil else Seq(s"${files.size} files, expected a split"))

  /** The 16 bytes of `f_key` arrive intact either way; FLBA(16) is the
    * physical type the input had. */
  override protected def extraFindings(files: Seq[Path]): Seq[String] =
    columnMismatches(files, "f_key", "FIXED_LEN_BYTE_ARRAY(16)")

  private def columnMismatches(files: Seq[Path], col: String, want: String): Seq[String] =
    files.flatMap { f =>
      val got = Checks.describeColumn(f, col)
      if (got == want) None else Some(s"${f.getFileName}: $col is $got, expected $want")
    }

  def duckdbInput(ctx: Ctx, lastOp: Path): Path = dir(ctx).resolve("fact.parquet")
}

/** `insert` of a TIME- and FLBA-annotated parquet file into a pre-created
  * Derby table, truncated before every op outside the timed call. */
final class ReverseInsert(rows: Int) extends Workload("reverse_insert") {
  private val input = Fixtures.insertInput(rows)
  private val target = "TARGET"
  private var landed: Fixtures.Landed = _
  private def url(ctx: Ctx) = s"jdbc:derby:memory:pbdst${ctx.seed}"
  private def file(ctx: Ctx) = ctx.work.resolve("ins.parquet")

  def prepare(ctx: Ctx): Seq[Fixture] = {
    landed = Fixtures.writeParquet(file(ctx), input, ctx.seed)
    // the column types the program's own insert creates for this file in
    // Derby (Spark's Derby dialect: text as CLOB, binary as BLOB)
    val conn = java.sql.DriverManager.getConnection(url(ctx) + ";create=true")
    try Fixtures.createDerbyTable(conn, target, input.cols, {
      case _: Kind.Text => "CLOB"
      case Kind.Bytes16 => "BLOB"
      case k => Fixtures.derbyType(k)
    }) finally conn.close()
    Seq(Fixture(input, Some(file(ctx)), landed))
  }

  private def withConn[T](ctx: Ctx)(f: java.sql.Connection => T): T = {
    val conn = java.sql.DriverManager.getConnection(url(ctx))
    try f(conn) finally conn.close()
  }

  private def truncate(ctx: Ctx): Unit = withConn(ctx) { c =>
    val st = c.createStatement()
    try st.execute(s"TRUNCATE TABLE $target") finally st.close()
  }

  /** Derby's allocated bytes for the target table: the insert's stored
    * output size. */
  private def storedBytes(c: java.sql.Connection): Long = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery("SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM " +
        s"TABLE(SYSCS_DIAG.SPACE_TABLE('APP', '$target')) S")
      rs.next(); rs.getLong(1)
    } finally st.close()
  }

  private def check(ctx: Ctx, seconds: Double): OpResult = withConn(ctx) { c =>
    val count = Checks.derbyCount(c, target)
    val fails =
      if (count != landed.sum.rows) Seq(s"COUNT(*) $count != ${landed.sum.rows}")
      else if (Checks.derbySum(c, target, input.cols) != landed.sum) Seq("checksum mismatch")
      else Seq.empty
    OpResult(seconds, count, storedBytes(c), fails)
  }

  private def argv(ctx: Ctx) = Seq("insert", "-q", "-c", url(ctx), file(ctx).toString, target)

  def op(ctx: Ctx, dir: Path): OpResult = {
    truncate(ctx)
    val (_, conf) = Cli.parse(argv(ctx))
    try {
      val (_, s, steal) = timed(Cli.runInsert(conf, Some(ctx.spark)))
      check(ctx, s).copy(steal = steal)
    } catch { case e: Exception => threw(e) }
  }

  /** `Cli.runInsert`'s sequence: the TIME strip, then `JdbcSink.insert`. */
  def replay(ctx: Ctx, dir: Path, traceId: Int): (OpResult, Map[String, Double]) = {
    truncate(ctx)
    val (_, conf) = Cli.parse(argv(ctx))
    val t = ctx.tracer
    t.begin(traceId)
    ctx.rec.clear()
    var df: DataFrame = null
    try t.span("op") {
      df = t.span("physical_format.read_spark_compatible") {
        PhysicalFormat.readSparkCompatible(ctx.spark, file(ctx))
      }
      t.span("jdbc_sink.insert") {
        JdbcSink.insert(df, conf.connectionString.get, target, conf.batchSizeRow)
      }
    } catch { case e: Exception => return (threw(e), Map.empty) }
    ctx.rec.drain()
    val opSpan = t.last(traceId, "op")
    val ins = t.last(traceId, "jdbc_sink.insert")
    val insertWindow = ctx.rec.window(ins.startMs, ins.endMs)
    val spark_ = Workload.sparkMetrics(ctx, opSpan)
    t.span("probe.source")(Workload.noop(df))
    val result = check(ctx, opSpan.seconds)
    val layers = Map(
      "source.fetch_s" -> t.total(traceId, "probe.source"),
      "source.partitions" -> df.queryExecution.toRdd.getNumPartitions.toDouble,
      "physical_format.strip_s" -> t.total(traceId, "physical_format.read_spark_compatible"),
      "physical_format.rows_reencoded" ->
        (if (Workload.hasTimeColumn(file(ctx))) Workload.fileRows(file(ctx)) else 0L).toDouble,
      "jdbc_sink.insert_s" -> ins.seconds,
      // Spark's JDBC writer opens one connection per write task
      "jdbc_sink.connections" -> insertWindow.tasks.toDouble
    ) ++ spark_
    (result, layers)
  }

  def duckdbInput(ctx: Ctx, lastOp: Path): Path = file(ctx)
}
