package graft.cli

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.functions.QueryParams
import graft.sources.{BatchSizeLimit, JdbcSink, ParquetSink}

/** CLI mirroring the reference's subcommand surface (`src/main.rs:51-77`):
  *
  *   query  [opts] <out.par|-> <sql|-> [param …]
  *   insert [opts] <in.parquet> <table>
  *   exec   [opts] <statement> <in.parquet>
  *   list-drivers
  *   list-data-sources
  *   completions
  *
  * Sources: `--connection-string <jdbc-url>` reads through Spark's JDBC
  * connector (the ODBC replacement); `--tables-dir <dir>` registers every
  * `<name>.parquet` in the directory as a SQL view and computes the query
  * natively — the "relational operators realized by Catalyst" mode.
  */
object Cli {

  final case class Conf(
      connectionString: Option[String] = None,
      user: Option[String] = None,
      password: Option[String] = None,
      encoding: String = "Auto", // System|Utf16|Auto — JVM text is always
                                 // UTF-16 internally, so accepted for CLI
                                 // parity and recorded, never needed
      tablesDir: Option[String] = None,
      batchSizeRow: Int = BatchSizeLimit.DefaultRows,
      batchSizeMemory: Long = BatchSizeLimit.DefaultMemoryBytes,
      rowGroupsPerFile: Int = 0,
      fileSizeThreshold: Long = 0,
      columnCompressionDefault: String = "zstd",
      /** explicit zstd/gzip level (reference main.rs:162-168); None = codec
        * default (zstd 3) */
      columnCompressionLevel: Option[Int] = None,
      /** per-column fallback encodings, `COL:ENC` (reference main.rs:188-196) */
      columnEncodings: Vector[(String, String)] = Vector.empty,
      /** --driver-does-not-support-64bit-integers (reference main.rs:197-203):
        * large integers fetched as text and parsed tool-side */
      driverSupports64Bit: Boolean = true,
      columnLengthLimit: Int = 4096,
      suffixLength: Int = 2,
      noEmptyFile: Boolean = false,
      avoidDecimal: Boolean = false,
      preferVarbinary: Boolean = false,
      /** partitioned (parallel) JDBC read: N concurrent result-set cursors
        * over disjoint ranges of this numeric column — the beyond-reference
        * scale path promised by SURVEY §4.2 (vs the reference's single
        * double-buffered cursor, fetch_batch.rs:93-152) */
      jdbcPartitionColumn: Option[String] = None,
      jdbcNumPartitions: Option[Int] = None,
      /** LOW:HIGH partition bounds; absent → one min/max probe derives them
        * ([[graft.sources.JdbcPartitioning.deriveBounds]]) */
      jdbcBounds: Option[(Long, Long)] = None,
      /** watermark-incremental pull (the e20 operator at the CLI surface):
        * wrap the query with `WHERE <col> > <watermark>` — the predicate
        * ships INSIDE the source query, so a scheduled re-run reads only
        * rows beyond the last pull. Column must be numeric + monotone
        * (an id or epoch column). */
      incrementalColumn: Option[String] = None,
      /** watermark state file for --incremental-column: read before the
        * pull (absent → full pull), atomically rewritten with the max
        * pulled value after a successful write — restart-safe because a
        * crashed run leaves the old watermark and the next run simply
        * re-pulls the same delta. */
      statePath: Option[String] = None,
      /** ParquetSink physical-fidelity pass (FLBA/TIME annotations);
        * `--no-physical-fidelity` keeps output Spark-readable instead
        * (see ParquetSink.Options.physicalFidelity). */
      physicalFidelity: Boolean = true,
      /** lake-verb options (the snapshot-log lifecycle at the CLI surface;
        * see [[runLake]]): commit/merge/optimize/read share these. */
      lakeOverwrite: Boolean = false,
      lakeStatsCols: Seq[String] = Seq.empty,
      lakeTxnId: Option[String] = None,
      lakeAsOf: Option[Int] = None,
      lakeAsOfTimestamp: Option[Long] = None,
      lakeKeepVersions: Int = 1,
      lakeRetainHours: Option[Double] = None,
      lakeColumn: Option[String] = None,
      lakeKey: Option[String] = None,
      lakeSeqCol: Option[String] = None,
      lakeTargetFiles: Int = 32,
      lakeZorderBy: Seq[String] = Seq.empty,
      lakeSmallFileBytes: Option[Long] = None,
      lakeTargetFileBytes: Long = 128L << 20,
      lakeChanges: Option[(Int, Int)] = None,
      lakeCdf: Option[(Int, Int)] = None,
      lakeSet: Vector[String] = Vector.empty,
      lakePartitionBy: Seq[String] = Seq.empty,
      lakeJson: Boolean = false,
      /** -1 = quiet, 0 = default, N = -v count (logging.rs:4-25 parity) */
      verbosity: Int = 0,
      /** --prompt (reference connection.rs:49-77, where it triggers the
        * ODBC driver-completion dialog and is windows-only): JDBC has no
        * driver-completion analog, so reinterpreted — documented in
        * README — as portable interactive credential entry. */
      promptPassword: Boolean = false,
      positional: Vector[String] = Vector.empty)

  def parse(args: Seq[String]): (String, Conf) = {
    require(args.nonEmpty, usage)
    val cmd = args.head
    var c = Conf()
    var rest = args.tail.toList
    while (rest.nonEmpty) {
      rest = rest match {
        case ("--connection-string" | "-c") :: v :: t => c = c.copy(connectionString = Some(v)); t
        case ("--user" | "-u") :: v :: t => c = c.copy(user = Some(v)); t
        case ("--password" | "-p") :: v :: t => c = c.copy(password = Some(v)); t
        case "--encoding" :: v :: t => c = c.copy(encoding = v); t
        case "--tables-dir" :: v :: t => c = c.copy(tablesDir = Some(v)); t
        case "--batch-size-row" :: v :: t => c = c.copy(batchSizeRow = v.toInt); t
        case "--batch-size-memory" :: v :: t => c = c.copy(batchSizeMemory = parseBytes(v)); t
        case "--row-groups-per-file" :: v :: t => c = c.copy(rowGroupsPerFile = v.toInt); t
        case "--file-size-threshold" :: v :: t => c = c.copy(fileSizeThreshold = parseBytes(v)); t
        case "--column-compression-default" :: v :: t => c = c.copy(columnCompressionDefault = v); t
        case "--column-compression-level-default" :: v :: t =>
          c = c.copy(columnCompressionLevel = Some(v.toInt)); t
        case "--parquet-column-encoding" :: v :: t =>
          c = c.copy(columnEncodings = c.columnEncodings :+ parseColumnEncoding(v)); t
        case "--driver-does-not-support-64bit-integers" :: t =>
          c = c.copy(driverSupports64Bit = false); t
        case "--column-length-limit" :: v :: t => c = c.copy(columnLengthLimit = v.toInt); t
        case "--suffix-length" :: v :: t => c = c.copy(suffixLength = v.toInt); t
        case "--no-empty-file" :: t => c = c.copy(noEmptyFile = true); t
        case "--no-physical-fidelity" :: t => c = c.copy(physicalFidelity = false); t
        case "--avoid-decimal" :: t => c = c.copy(avoidDecimal = true); t
        case "--prefer-varbinary" :: t => c = c.copy(preferVarbinary = true); t
        // accepted so reference command lines parse; the parquet sink
        // always overlaps fetching with k encoders (`sources.EncoderPool`)
        case "--sequential-fetching" :: t => t
        case "--jdbc-partition-column" :: v :: t => c = c.copy(jdbcPartitionColumn = Some(v)); t
        case "--jdbc-num-partitions" :: v :: t => c = c.copy(jdbcNumPartitions = Some(v.toInt)); t
        case "--jdbc-bounds" :: v :: t => c = c.copy(jdbcBounds = Some(parseBounds(v))); t
        case "--incremental-column" :: v :: t => c = c.copy(incrementalColumn = Some(v)); t
        case "--state-path" :: v :: t => c = c.copy(statePath = Some(v)); t
        case "--overwrite" :: t => c = c.copy(lakeOverwrite = true); t
        case "--stats-cols" :: v :: t =>
          c = c.copy(lakeStatsCols = v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)); t
        case "--txn-id" :: v :: t => c = c.copy(lakeTxnId = Some(v)); t
        case "--as-of" :: v :: t => c = c.copy(lakeAsOf = Some(v.toInt)); t
        case "--as-of-timestamp" :: v :: t =>
          // epoch millis, or an ISO-8601 instant / local datetime (UTC)
          c = c.copy(lakeAsOfTimestamp = Some(parseTsMillis(v))); t
        case "--keep-versions" :: v :: t => c = c.copy(lakeKeepVersions = v.toInt); t
        case "--retain-hours" :: v :: t => c = c.copy(lakeRetainHours = Some(v.toDouble)); t
        case "--column" :: v :: t => c = c.copy(lakeColumn = Some(v)); t
        case "--key" :: v :: t => c = c.copy(lakeKey = Some(v)); t
        case "--seq-col" :: v :: t => c = c.copy(lakeSeqCol = Some(v)); t
        case "--target-files" :: v :: t => c = c.copy(lakeTargetFiles = v.toInt); t
        case "--zorder-by" :: v :: t =>
          c = c.copy(lakeZorderBy = v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)); t
        case "--partition-by" :: v :: t =>
          c = c.copy(lakePartitionBy =
            v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)); t
        case "--json" :: t => c = c.copy(lakeJson = true); t
        case "--small-file-bytes" :: v :: t =>
          c = c.copy(lakeSmallFileBytes = Some(parseBytes(v))); t
        case "--target-file-bytes" :: v :: t =>
          c = c.copy(lakeTargetFileBytes = parseBytes(v)); t
        case "--changes" :: v :: t => c = c.copy(lakeChanges = Some(parseRange(v))); t
        case "--cdf" :: v :: t => c = c.copy(lakeCdf = Some(parseRange(v))); t
        case "--set" :: v :: t => c = c.copy(lakeSet = c.lakeSet :+ v); t
        case "--prompt" :: t => c = c.copy(promptPassword = true); t
        case ("-v" | "--verbose") :: t => c = c.copy(verbosity = c.verbosity.max(0) + 1); t
        case ("-q" | "--quiet") :: t => c = c.copy(verbosity = -1); t
        case flag :: _ if flag.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown option $flag\n$usage")
        case v :: t => c = c.copy(positional = c.positional :+ v); t
        case Nil => Nil
      }
    }
    // env-var fallbacks mirror ODBC_CONNECTION_STRING/ODBC_USER/ODBC_PASSWORD
    // (reference connection.rs:10-33)
    if (c.connectionString.isEmpty)
      c = c.copy(connectionString = sys.env.get("GRAFT_CONNECTION_STRING"))
    if (c.user.isEmpty) c = c.copy(user = sys.env.get("GRAFT_USER"))
    if (c.password.isEmpty) c = c.copy(password = sys.env.get("GRAFT_PASSWORD"))
    // --prompt wins over flag/env (matching the reference's "ask me"
    // intent: an explicit prompt must never silently reuse a stale
    // environment secret); resolution is deferred to command run time via
    // resolveCredentials so parsing stays pure and testable
    if (c.promptPassword) c = c.copy(password = None)
    // stdout output conflicts with file splitting (reference main.rs:295-311)
    if (cmd == "query" && c.positional.headOption.contains("-") &&
      (c.rowGroupsPerFile > 0 || c.fileSizeThreshold > 0))
      throw new IllegalArgumentException(
        "splitting the output into multiple files is incompatible with writing to stdout")
    // partition tuning without the column would silently run a
    // single-cursor read — the exact bottleneck the flags exist to
    // remove; refuse loudly instead
    if (c.jdbcPartitionColumn.isEmpty &&
      (c.jdbcNumPartitions.isDefined || c.jdbcBounds.isDefined))
      throw new IllegalArgumentException(
        "--jdbc-num-partitions/--jdbc-bounds require --jdbc-partition-column")
    (cmd, c)
  }

  /** `COL:ENC` with the reference's enum (main.rs:188-196 /
    * column_encoding_from_str): plain, delta-binary-packed, delta-byte-array,
    * delta-length-byte-array, rle. */
  private val ValidEncodings = Set("plain", "delta-binary-packed",
    "delta-byte-array", "delta-length-byte-array", "rle")
  private def parseColumnEncoding(v: String): (String, String) = v.split(":", 2) match {
    case Array(col, enc) if col.nonEmpty && ValidEncodings(enc.toLowerCase) =>
      (col, enc.toLowerCase)
    case _ => throw new IllegalArgumentException(
      s"invalid --parquet-column-encoding '$v'; expected COLUMN:ENCODING with " +
        s"ENCODING one of ${ValidEncodings.toSeq.sorted.mkString(", ")}")
  }

  /** Realize `COL:ENC` requests through the Spark-reachable parquet-mr
    * controls: disabling the column's dictionary makes the writer use its
    * fallback encoding, and the writer VERSION selects which fallback that
    * is — v1 falls back to plain, v2 to the delta family. `rle` is only
    * ever applied by parquet-mr to booleans/levels automatically and plain
    * and delta fallbacks cannot coexist in one file, so those requests are
    * rejected rather than silently ignored. Returns (writerVersion,
    * per-column dictionary toggles). */
  def realizeEncodings(encodings: Seq[(String, String)], defaultVersion: String = "v2"): (String, Map[String, Boolean]) = {
    require(!encodings.exists(_._2 == "rle"),
      "rle is not reachable through Spark's parquet writer: parquet-mr applies " +
        "RLE only to boolean columns and rep/def levels automatically")
    val wantPlain = encodings.exists(_._2 == "plain")
    val wantDelta = encodings.exists(_._2.startsWith("delta"))
    require(!(wantPlain && wantDelta),
      "plain and delta-* column encodings cannot be mixed in one output: the " +
        "parquet writer version (v1=plain fallback, v2=delta fallback) is per-file")
    val version = if (wantPlain) "v1" else if (wantDelta) "v2" else defaultVersion
    (version, encodings.map { case (col, _) => col -> false }.toMap)
  }

  /** `FROM:TO` version range for --changes/--cdf. */
  /** `--as-of-timestamp` accepts epoch millis, an ISO-8601 instant
    * (2026-01-05T12:00:00Z), or a date/datetime read as UTC — the same
    * forms Delta's timestampAsOf takes. */
  private def parseTsMillis(v: String): Long = {
    val t = v.trim
    // all-digit strings must be non-empty and inside Long range, or the
    // fall-through ISO parse produces the intended error message
    if (t.nonEmpty && t.length <= 18 && t.forall(_.isDigit)) t.toLong
    else try java.time.Instant.parse(t).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDateTime.parse(t)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDate.parse(t).atStartOfDay()
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
            catch {
              case _: java.time.format.DateTimeParseException =>
                throw new IllegalArgumentException(
                  s"invalid timestamp '$v'; expected epoch millis, an " +
                    "ISO-8601 instant, or a UTC date/datetime")
            }
        }
    }
  }

  private def parseRange(v: String): (Int, Int) = v.split(":", 2) match {
    case Array(lo, hi) =>
      try {
        val (l, h) = (lo.trim.toInt, hi.trim.toInt)
        require(l <= h, s"version range FROM $l exceeds TO $h")
        (l, h)
      } catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"invalid version range '$v'; expected FROM:TO integers")
      }
    case _ => throw new IllegalArgumentException(
      s"invalid version range '$v'; expected FROM:TO")
  }

  /** `LOW:HIGH` partition bounds for --jdbc-bounds. */
  private def parseBounds(v: String): (Long, Long) = v.split(":", 2) match {
    case Array(lo, hi) =>
      try {
        val (l, h) = (lo.trim.toLong, hi.trim.toLong)
        require(l <= h, s"--jdbc-bounds low $l exceeds high $h")
        (l, h)
      } catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"invalid --jdbc-bounds '$v'; expected LOW:HIGH integers")
      }
    case _ => throw new IllegalArgumentException(
      s"invalid --jdbc-bounds '$v'; expected LOW:HIGH")
  }

  private def parseBytes(v: String): Long = {
    val s = v.trim.toLowerCase
    val (num, mult) =
      if (s.endsWith("gib")) (s.dropRight(3), 1L << 30)
      else if (s.endsWith("mib")) (s.dropRight(3), 1L << 20)
      else if (s.endsWith("kib")) (s.dropRight(3), 1L << 10)
      // bare-byte suffix, e.g. "1B" (reference integration.rs:1640)
      else if (s.endsWith("b")) (s.dropRight(1), 1L)
      else (s, 1L)
    (num.trim.toDouble * mult).toLong
  }

  val usage: String =
    """usage: graft <query|insert|exec|lake|list-drivers|list-data-sources|completions> [options]
      |  query  [opts] <out.par|-> <sql|-> [param …]
      |  insert [opts] <in.parquet> <table>        (-c <jdbc-url> required)
      |  exec   [opts] <statement> <in.parquet>    (-c <jdbc-url> required)
      |  lake   <commit|delete|update|merge|optimize|vacuum|versions|read
      |          |count|orphans|rename-column|drop-column> <table-dir> …
      |         commit <dir> <in.parquet> [--overwrite] [--stats-cols a,b] [--txn-id ID]
      |         delete <dir> <sql-predicate>            (merge-on-read deletion vector)
      |         update <dir> <sql-predicate> --set col=expr [--set …]
      |         merge  <dir> <changes.parquet> --key COL [--seq-col COL]
      |         optimize <dir> [--target-files N] [--zorder-by a,b]
      |                  [--small-file-bytes B [--target-file-bytes B]] (bin-pack)
      |         vacuum <dir> [--keep-versions N | --retain-hours H]
      |         read   <dir> <out.par|-> [--as-of N | --as-of-timestamp TS
      |                                   | --changes F:T | --cdf F:T]
      |options: --connection-string/-c URL, --tables-dir DIR, --batch-size-row N,
      |  --batch-size-memory BYTES, --row-groups-per-file N, --file-size-threshold BYTES,
      |  --column-compression-default CODEC, --column-compression-level-default N,
      |  --parquet-column-encoding COL:ENC, --column-length-limit N, --suffix-length N,
      |  --no-empty-file, --avoid-decimal, --prefer-varbinary,
      |  --sequential-fetching (accepted so reference command lines parse; a
      |    no-op: fetching and encoding always overlap),
      |  --no-physical-fidelity (skip FLBA/TIME parquet annotations; keeps
      |    output Spark-readable — annotated TIME columns need a TIME-aware
      |    reader like DuckDB),
      |  --driver-does-not-support-64bit-integers, --user/-u NAME, --password/-p PW,
      |  --prompt (ask for the password interactively),
      |  --jdbc-partition-column COL [--jdbc-num-partitions N] [--jdbc-bounds LO:HI]
      |    (parallel JDBC read: N concurrent range-partitioned cursors; bounds
      |     auto-derived via one MIN/MAX probe when omitted)
      |  --incremental-column COL --state-path FILE
      |    (scheduled-pull mode: wrap the query with COL > <watermark> and
      |     atomically advance FILE to the max landed value — only rows since
      |     the last run are read from the source)""".stripMargin

  /** `--prompt` resolution (reference interactive credentials,
    * src/main.rs connection opts): read the password from the console
    * (no-echo) at command start, falling back to a stdin line when no
    * console is attached (pipes, CI). Injectable reader keeps it
    * spec-testable without a tty. */
  /** `hasConsole` is a parameter (defaulting to the ambient console), not
    * an inline System.console() check: the stdin-clash guard's behavior
    * must be decidable in tests regardless of how the JVM was launched,
    * and callers embedding the CLI can force either path. */
  def resolveCredentials(conf: Conf, cmd: String = "",
      hasConsole: Boolean = System.console() != null,
      readSecret: () => String = defaultReadSecret): Conf =
    if (conf.promptPassword) {
      // the stdin fallback and a stdin-sourced query share ONE stream: the
      // prompt would consume the query's first line as the password and
      // feed a fragment of SQL to the database as the credential. Refuse
      // loudly instead of corrupting both.
      if (!hasConsole && cmd == "query" && conf.positional.lift(1).contains("-"))
        throw new IllegalArgumentException(
          "--prompt cannot read the password from stdin while the query is " +
            "also read from stdin ('-'); attach a terminal or pass the query inline")
      conf.copy(password = Some(readSecret()))
    } else conf

  private def defaultReadSecret(): String =
    Option(System.console()) match {
      case Some(console) =>
        console.printf("password: ")
        new String(console.readPassword())
      case None =>
        // stderr, not stdout: stdout may be the parquet stream ('-') and
        // a piped caller still deserves to see what is being awaited
        System.err.print("password: ")
        Option(scala.io.StdIn.readLine()).getOrElse("")
    }

  /** Subcommands that actually open a database connection — the only ones
    * where `--prompt` may block on credential entry. `graft completions
    * bash --prompt` or `list-drivers --prompt` must never stall reading a
    * password that would not be used. (exec's statement is inline-only,
    * reference main.rs:292 — no stdin positional to clash with, so the
    * stdin-clash guard inside resolveCredentials applies to query alone.) */
  private val credentialCommands = Set("query", "insert", "exec")

  def main(args: Array[String]): Unit = {
    val (cmd, rawConf) = parse(args.toIndexedSeq)
    val conf =
      if (credentialCommands(cmd)) resolveCredentials(rawConf, cmd) else rawConf
    cmd match {
      case "query" => runQuery(conf)
      case "insert" => runInsert(conf)
      case "exec" => runExec(conf)
      case "lake" => println(runLake(conf))
      case "list-drivers" => listDrivers().foreach(println)
      case "list-data-sources" => listDataSources().foreach(println)
      case "completions" =>
        println(completions(conf.positional.headOption.getOrElse("bash")))
      case other => throw new IllegalArgumentException(s"unknown subcommand $other\n$usage")
    }
  }

  def logLevel(verbosity: Int): String = verbosity match {
    case v if v < 0 => "ERROR"
    case 0 => "WARN"
    case 1 => "INFO"
    case _ => "DEBUG"
  }

  def session(verbosity: Int = 0): SparkSession =
    graft.Session.local(graft.Session.cpus(32), "graft", logLevel(verbosity))

  private def readQueryText(q: String): String =
    if (q == "-") scala.io.Source.stdin.mkString else q

  def runQuery(conf: Conf, sparkOpt: Option[SparkSession] = None): Seq[java.nio.file.Path] = {
    val Vector(out, sqlArg, params @ _*) = conf.positional: @unchecked
    val spark = sparkOpt.map(graft.Session.pin).getOrElse(session(conf.verbosity))
    spark.sparkContext.setLogLevel(logLevel(conf.verbosity))
    val baseSql = QueryParams.substitute(readQueryText(sqlArg), params.toSeq)
    // watermark-incremental pull: wrap the (arbitrary) user query as a
    // derived table and predicate on the monotone column — the WHERE
    // ships inside the source query on the JDBC path, so the source
    // scans only the delta (operators.EtlQueries.e20 is the gated twin
    // of this surface)
    val sql = conf.incrementalColumn match {
      case Some(cname) =>
        require(conf.statePath.isDefined,
          "--incremental-column requires --state-path")
        // stdout output returns no file paths, so the watermark could
        // never advance — every scheduled run would silently re-pull the
        // whole source; refuse instead
        require(out != "-",
          "--incremental-column cannot write to stdout ('-'): the " +
            "watermark advances from the landed parquet files")
        val wm = conf.statePath.map(Paths.get(_)).filter(Files.exists(_))
          .map(p => new String(Files.readAllBytes(p), "UTF-8").trim)
          .filter(_.nonEmpty)
        wm.fold(baseSql)(w =>
          s"SELECT * FROM ($baseSql) graft_inc WHERE $cname > $w")
      case None => baseSql
    }
    val df = (conf.connectionString, conf.tablesDir) match {
      case (Some(url), _) if conf.jdbcPartitionColumn.isDefined =>
        // parallel ingest: one result-set cursor per partition (SURVEY
        // §4.2's answer to the reference's concurrent fetch). Partition
        // count defaults to the session's parallelism — the executor
        // count is what the N cursors should saturate.
        graft.sources.JdbcPartitioning.read(spark, url, sql,
          conf.jdbcPartitionColumn.get,
          numPartitions = conf.jdbcNumPartitions
            .getOrElse(spark.sparkContext.defaultParallelism),
          bounds = conf.jdbcBounds,
          user = conf.user, password = conf.password,
          fetchSize = conf.batchSizeRow)
      case (Some(url), _) =>
        var r = spark.read.format("jdbc")
          .option("url", url)
          .option("query", sql)
          .option("fetchsize", conf.batchSizeRow.toString)
        conf.user.foreach(u => r = r.option("user", u))
        conf.password.foreach(p => r = r.option("password", p))
        r.load()
      case (None, Some(dir)) =>
        // the pinned reader policy (graft.Session.pin) surfaces parquet
        // TIMESTAMP(NANOS) columns as epoch-nanos longs — same policy as
        // TypeMapping — and MICROS columns as TimestampType
        graft.sources.Staging.listNames(Paths.get(dir)).filter(_.endsWith(".parquet"))
          .foreach { n =>
            graft.sources.PhysicalFormat.readSparkCompatible(spark, Paths.get(dir, n))
              .createOrReplaceTempView(n.stripSuffix(".parquet"))
          }
        spark.sql(sql)
      case (None, None) =>
        throw new IllegalArgumentException(
          "either --connection-string or --tables-dir is required")
    }
    val mapped = graft.functions.TypeMapping.applyOptions(df,
      graft.functions.TypeMapping.MappingOptions(
        avoidDecimal = conf.avoidDecimal,
        preferVarbinary = conf.preferVarbinary,
        columnLengthLimit = conf.columnLengthLimit,
        driverSupports64Bit = conf.driverSupports64Bit))
    val rows = BatchSizeLimit.effectiveRows(mapped.schema, conf.batchSizeRow, conf.batchSizeMemory)
    val (writerVersion, columnDictionary) = realizeEncodings(conf.columnEncodings)
    val written = ParquetSink.write(mapped, out, ParquetSink.Options(
      compression = conf.columnCompressionDefault,
      compressionLevel = conf.columnCompressionLevel,
      batchRows = rows,
      rowGroupsPerFile = conf.rowGroupsPerFile,
      fileSizeThresholdBytes = conf.fileSizeThreshold,
      suffixLength = conf.suffixLength,
      noEmptyFile = conf.noEmptyFile,
      writerVersion = writerVersion,
      columnDictionary = columnDictionary,
      physicalFidelity = conf.physicalFidelity))
    // advance the watermark from what actually LANDED (not from the pull
    // plan — a failed write must not move state), atomically: tmp +
    // same-directory rename, the ParquetSink staging rule
    conf.incrementalColumn.foreach { cname =>
      if (written.nonEmpty) {
        import org.apache.spark.sql.functions.{col, max}
        // the flag value is spelled for the SOURCE dialect (quoted for
        // case-sensitive Derby/Postgres identifiers); the landed parquet
        // column is the bare name
        val bare = cname.stripPrefix("\"").stripSuffix("\"")
          .stripPrefix("`").stripSuffix("`")
        val mx = spark.read.parquet(written.map(_.toString): _*)
          .agg(max(col(bare))).head
        if (!mx.isNullAt(0)) {
          val stateP = Paths.get(conf.statePath.get).toAbsolutePath
          val tmp = Files.createTempFile(stateP.getParent, ".graft-state", ".tmp")
          Files.write(tmp, watermarkLiteral(mx.get(0)).getBytes("UTF-8"))
          Files.move(tmp, stateP,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      }
    }
    written
  }

  /** The landed max as the literal the next pull splices after `col >`,
    * valid on the JDBC and the tables-dir path: numbers bare, any other
    * type quoted with `'` doubled, for the engine to coerce. */
  private def watermarkLiteral(v: Any): String = v match {
    case d: java.math.BigDecimal => d.toPlainString
    case n: java.lang.Number => n.toString
    case other => "'" + other.toString.replace("'", "''") + "'"
  }

  def runInsert(conf: Conf, sparkOpt: Option[SparkSession] = None): Unit = {
    val Vector(file, table) = conf.positional: @unchecked
    val url = conf.connectionString.getOrElse(
      throw new IllegalArgumentException("--connection-string is required for insert"))
    val spark = sparkOpt.map(graft.Session.pin).getOrElse(session())
    // readSparkCompatible: graft's own TIME-annotated fidelity output
    // must be insertable, like the reference's insert reads its own files
    JdbcSink.insert(graft.sources.PhysicalFormat.readSparkCompatible(
      spark, Paths.get(file)), url, table, conf.batchSizeRow)
  }

  def runExec(conf: Conf, sparkOpt: Option[SparkSession] = None): Unit = {
    val Vector(statement, file) = conf.positional: @unchecked
    val url = conf.connectionString.getOrElse(
      throw new IllegalArgumentException("--connection-string is required for exec"))
    val spark = sparkOpt.map(graft.Session.pin).getOrElse(session())
    JdbcSink.exec(graft.sources.PhysicalFormat.readSparkCompatible(
      spark, Paths.get(file)), statement, url, conf.batchSizeRow)
  }

  /** The snapshot-log lifecycle as CLI verbs — the library's lakehouse
    * write matrix (e24–e39's operators) made operable the way the
    * reference's insert/exec/query are (src/main.rs:51-77's surface
    * philosophy, beyond-reference capability):
    *
    *   lake commit   <dir> <in.parquet>      [--overwrite] [--stats-cols a,b] [--txn-id ID] [--partition-by a,b]
    *   lake delete   <dir> <sql-predicate>                         (DV merge-on-read)
    *   lake update   <dir> <sql-predicate> --set col=expr [--set …] [--stats-cols …]
    *   lake merge    <dir> <changes.parquet> --key COL [--seq-col COL] [--stats-cols …]
    *   lake optimize <dir> [--target-files N] [--zorder-by a,b]
    *                       [--small-file-bytes B [--target-file-bytes B]]  (bin-pack mode)
    *   lake vacuum   <dir> [--keep-versions N]
    *   lake orphans  <dir> [--json]             (vacuum dry-run: list debris)
    *   lake count    <dir> [--as-of N] [--column C]  (metadata-only counts)
    *   lake rename-column <dir> <from> <to>     (metadata-only; column mapping)
    *   lake drop-column   <dir> <col>           (metadata-only; column mapping)
    *   lake versions <dir>
    *   lake history  <dir>                      (DESCRIBE HISTORY: stamps, encodings, step diffs)
    *   lake inventory <dir> [--as-of N]         (file/byte/row totals via the checkpoint inventory)
    *   lake read     <dir> <out.par|-> [--as-of N] [--changes F:T] [--cdf F:T]
    *
    * Predicates and SET right-hand sides are Spark SQL expressions over
    * the table's columns (`o_orderkey % 3 = 0`, `price + 100`). Returns
    * the human-readable summary `main` prints, so specs can drive the
    * exact surface. */
  def runLake(conf: Conf, sparkOpt: Option[SparkSession] = None): String = {
    import org.apache.spark.sql.functions.expr
    import graft.sources.SnapshotLog
    val verb = conf.positional.headOption.getOrElse(
      throw new IllegalArgumentException(s"lake needs a verb\n$usage"))
    val rest = conf.positional.tail
    def dir = Paths.get(rest.headOption.getOrElse(
      throw new IllegalArgumentException(s"lake $verb needs a table dir\n$usage")))
    // arity guard: a missing or extra positional is a usage error, not a
    // MatchError stack trace from the Vector destructure below
    def arity(n: Int, shape: String): Unit =
      if (rest.size != n) throw new IllegalArgumentException(
        s"lake $verb needs exactly: $shape (got ${rest.size} " +
          s"positional(s))\n$usage")
    lazy val spark = sparkOpt.map(graft.Session.pin).getOrElse(session(conf.verbosity))
    verb match {
      case "commit" =>
        arity(2, "TABLE_DIR IN_PARQUET")
        val Vector(_, in) = rest: @unchecked
        val v = SnapshotLog.commit(
          graft.sources.PhysicalFormat.readSparkCompatible(spark, Paths.get(in)),
          dir, overwrite = conf.lakeOverwrite,
          statsCols = conf.lakeStatsCols, txnId = conf.lakeTxnId,
          partitionBy = conf.lakePartitionBy)
        s"committed version $v"
      case "delete" =>
        arity(2, "TABLE_DIR PREDICATE")
        val Vector(_, pred) = rest: @unchecked
        val v = SnapshotLog.deleteWhere(spark, dir, expr(pred))
        s"deleted; latest version $v"
      case "update" =>
        arity(2, "TABLE_DIR PREDICATE")
        val Vector(_, pred) = rest: @unchecked
        require(conf.lakeSet.nonEmpty, "lake update needs at least one --set col=expr")
        val sets = conf.lakeSet.map { s =>
          s.split("=", 2) match {
            case Array(cl, e) if cl.trim.nonEmpty && e.trim.nonEmpty =>
              cl.trim -> expr(e.trim)
            case _ => throw new IllegalArgumentException(
              s"invalid --set '$s'; expected COLUMN=EXPRESSION")
          }
        }.toMap
        val v = SnapshotLog.updateWhere(spark, dir, expr(pred), sets,
          statsCols = conf.lakeStatsCols)
        s"updated; latest version $v"
      case "merge" =>
        arity(2, "TABLE_DIR CHANGES_PARQUET")
        val Vector(_, changes) = rest: @unchecked
        val key = conf.lakeKey.getOrElse(
          throw new IllegalArgumentException("lake merge requires --key COL"))
        val raw = graft.sources.PhysicalFormat.readSparkCompatible(
          spark, Paths.get(changes))
        // a changeset without the _deleted marker is a pure upsert batch —
        // the common CDC export shape; delete-carrying changesets bring
        // their own column (Merge.merge's contract)
        val changeDf =
          if (raw.columns.contains("_deleted")) raw
          else raw.withColumn("_deleted", org.apache.spark.sql.functions.lit(false))
        val v = SnapshotLog.merge(spark, dir, changeDf,
          key, seqCol = conf.lakeSeqCol, statsCols = conf.lakeStatsCols)
        s"merged version $v"
      case "optimize" =>
        arity(1, "TABLE_DIR")
        val v = conf.lakeSmallFileBytes match {
          case Some(small) => SnapshotLog.binPack(spark, dir, small,
            conf.lakeTargetFileBytes, statsCols = conf.lakeStatsCols)
          case None => SnapshotLog.compact(spark, dir, conf.lakeTargetFiles,
            statsCols = conf.lakeStatsCols, zorderBy = conf.lakeZorderBy)
        }
        s"optimized; latest version $v"
      case "vacuum" =>
        arity(1, "TABLE_DIR")
        val (expired, deleted) = conf.lakeRetainHours match {
          case Some(h) =>
            SnapshotLog.vacuumRetain(dir, (h * 3600000L).toLong)
          case None => SnapshotLog.vacuum(dir, conf.lakeKeepVersions)
        }
        s"expired versions ${expired.mkString(",")}; " +
          s"deleted ${deleted.size} data files"
      case "orphans" =>
        // the vacuum candidate list WITHOUT deleting — the ops dry-run:
        // crashed-commit debris, aborted-merge parts, superseded rebase
        // DVs; everything here is invisible to reads and reclaimable
        arity(1, "TABLE_DIR")
        val os = SnapshotLog.orphans(dir)
        if (conf.lakeJson) {
          // scriptable dry-run (round 14): one JSON object; bytes come
          // from the filesystem because orphans are by definition in NO
          // manifest — there is no metadata to read them from. Each
          // orphan stats ONCE, a file vacuumed between the listing and
          // the stat reports 0 instead of crashing (orphans are debris;
          // racing reclaim is normal), and names are JSON-escaped —
          // debris names are untrusted by definition
          def esc(s: String): String = s.flatMap {
            case '"' => "\\\""
            case '\\' => "\\\\"
            case c if c < ' ' => f"\\u${c.toInt}%04x"
            case c => c.toString
          }
          val sized = os.map(p => p.getFileName.toString ->
            (try Files.size(p) catch { case _: java.io.IOException => 0L }))
          val items = sized.map { case (n, b) =>
            "{\"file\":\"" + esc(n) + "\",\"bytes\":" + b + "}" }
          "{\"orphans\":[" + items.mkString(",") + "],\"count\":" +
            sized.size + ",\"totalBytes\":" + sized.map(_._2).sum + "}"
        } else if (os.isEmpty) "no orphans"
        else os.map(p => s"${p.getFileName} (${Files.size(p)} B)")
          .mkString("\n")
      case "count" =>
        // metadata-only COUNT(*) when the manifest carries complete
        // per-file row meta (round 14); falls back to a scan — and SAYS
        // so — for pre-meta lineages
        arity(1, "TABLE_DIR")
        conf.lakeColumn match {
          // COUNT(col) — the non-null count — from per-file null counts
          // (round 15); falls back to a scan, and SAYS so, when the
          // column has no recorded counts or the version carries DVs
          case Some(c) => SnapshotLog.metadataCountCol(dir, c, conf.lakeAsOf) match {
            case Some(n) => s"$n non-null $c rows (metadata-only)"
            case None =>
              val n = SnapshotLog.read(spark, dir, conf.lakeAsOf)
                .filter(org.apache.spark.sql.functions.col(c).isNotNull).count()
              s"$n non-null $c rows (scanned; no complete null-count metadata)"
          }
          case None => SnapshotLog.metadataCount(spark, dir, conf.lakeAsOf) match {
            case Some(n) => s"$n rows (metadata-only)"
            case None =>
              val n = SnapshotLog.read(spark, dir, conf.lakeAsOf).count()
              s"$n rows (scanned; manifest lacks complete per-file meta)"
          }
        }
      case "rename-column" =>
        arity(3, "TABLE_DIR FROM TO")
        val Vector(_, from, to) = rest: @unchecked
        val v = SnapshotLog.renameColumn(dir, from, to)
        s"renamed $from -> $to (metadata-only); latest version $v"
      case "drop-column" =>
        arity(2, "TABLE_DIR COLUMN")
        val Vector(_, name) = rest: @unchecked
        val v = SnapshotLog.dropColumn(dir, name)
        s"dropped $name (metadata-only); latest version $v"
      case "versions" =>
        arity(1, "TABLE_DIR")
        val vs = SnapshotLog.versions(dir)
        vs.map { v =>
          val n = SnapshotLog.files(dir, Some(v)).size
          val d = SnapshotLog.dvFiles(dir, Some(v)).size
          s"v$v files=$n dvs=$d"
        }.mkString("\n")
      case "history" =>
        // DESCRIBE HISTORY (round 16): one line per version with the
        // effective stamp, manifest encoding, and step diffs. The
        // whole history has no as-of form — reject the flags instead
        // of silently ignoring them (the argv fail-loudly discipline)
        arity(1, "TABLE_DIR")
        if (conf.lakeAsOf.isDefined || conf.lakeAsOfTimestamp.isDefined)
          throw new IllegalArgumentException(
            "lake history lists every version — --as-of/--as-of-" +
              "timestamp do not apply")
        SnapshotLog.history(spark, dir)
          .orderBy(org.apache.spark.sql.functions.col("version"))
          .collect().map { r =>
            val txn = Option(r.getString(2)).map(t => s" txn=$t")
              .getOrElse("")
            s"v${r.getInt(0)} ${r.getTimestamp(1)} ${r.getString(3)} " +
              s"adds=${r.getInt(4)} removes=${r.getInt(5)} " +
              s"dvAdds=${r.getInt(6)} dvRemoves=${r.getInt(7)} " +
              s"files=${r.getInt(8)} dvs=${r.getInt(9)}$txn"
          }.mkString("\n")
      case "inventory" =>
        // totals computed AS A SPARK AGGREGATION over the checkpoint
        // sidecar inventory (round 16) — no driver-side per-file
        // decode. --as-of-timestamp resolves to a version FIRST (the
        // read verb's rule) instead of being silently ignored
        arity(1, "TABLE_DIR")
        if (conf.lakeAsOf.isDefined && conf.lakeAsOfTimestamp.isDefined)
          throw new IllegalArgumentException(
            "--as-of and --as-of-timestamp are mutually exclusive")
        val invAsOf = conf.lakeAsOfTimestamp
          .map(ts => SnapshotLog.versionAsOfTimestamp(dir, ts))
          .orElse(conf.lakeAsOf)
        val f = org.apache.spark.sql.functions
        val agg = SnapshotLog.inventory(spark, dir, invAsOf)
          .groupBy(f.col("kind"))
          .agg(f.count(f.lit(1)).as("n"), f.sum(f.col("size")).as("b"),
            f.sum(f.col("rows")).as("r"))
          .collect().map { r =>
            r.getString(0) -> ((r.getLong(1),
              if (r.isNullAt(2)) 0L else r.getLong(2),
              if (r.isNullAt(3)) 0L else r.getLong(3)))
          }.toMap
        val (dn, db, drows) = agg.getOrElse("data", (0L, 0L, 0L))
        val (vn, vb, _) = agg.getOrElse("dv", (0L, 0L, 0L))
        s"data files=$dn bytes=$db rows=$drows; dv files=$vn bytes=$vb"
      case "read" =>
        arity(2, "TABLE_DIR OUT_PARQUET")
        val Vector(_, out) = rest: @unchecked
        // --as-of/--as-of-timestamp are snapshot verbs; silently
        // discarding one under --changes/--cdf would serve feed rows to
        // a time-travel request
        if ((conf.lakeAsOf.isDefined || conf.lakeAsOfTimestamp.isDefined) &&
            (conf.lakeChanges.isDefined || conf.lakeCdf.isDefined))
          throw new IllegalArgumentException(
            "--as-of/--as-of-timestamp cannot combine with --changes/--cdf")
        if (conf.lakeAsOf.isDefined && conf.lakeAsOfTimestamp.isDefined)
          throw new IllegalArgumentException(
            "--as-of and --as-of-timestamp are mutually exclusive")
        // TIMESTAMP AS OF resolves to a version FIRST (Delta's rule:
        // latest version at or before ts) — one resolution, then the
        // ordinary versioned read
        val asOf = conf.lakeAsOfTimestamp
          .map(ts => SnapshotLog.versionAsOfTimestamp(dir, ts))
          .orElse(conf.lakeAsOf)
        val df = (conf.lakeChanges, conf.lakeCdf) match {
          case (Some((f, t)), None) => SnapshotLog.readChanges(spark, dir, f, t)
          case (None, Some((f, t))) => SnapshotLog.readChangesCdf(spark, dir, f, t)
          case (None, None) => SnapshotLog.read(spark, dir, asOf)
          case _ => throw new IllegalArgumentException(
            "--changes and --cdf are mutually exclusive")
        }
        val written = ParquetSink.write(df, out, ParquetSink.Options(
          compression = conf.columnCompressionDefault,
          rowGroupsPerFile = conf.rowGroupsPerFile,
          fileSizeThresholdBytes = conf.fileSizeThreshold,
          suffixLength = conf.suffixLength,
          noEmptyFile = conf.noEmptyFile))
        s"wrote ${written.size} file(s)"
      case other => throw new IllegalArgumentException(
        s"unknown lake verb '$other'\n$usage")
    }
  }

  /** ODBC connection-string attribute escaping (connection.rs:55-61):
    * values containing special characters are brace-wrapped with `}`
    * doubled. Used when appending UID/PWD to an ODBC-style connection
    * string (the DSN-style JDBC urls take credentials as options instead). */
  def escapeAttr(v: String): String =
    if (v.exists("[]{}(),;?*=!@".contains(_))) "{" + v.replace("}", "}}") + "}"
    else v

  def appendCredentials(cs: String, user: Option[String], password: Option[String]): String = {
    val sep = if (cs.isEmpty || cs.endsWith(";")) "" else ";"
    val uid = user.map(u => s"UID=${escapeAttr(u)};").getOrElse("")
    val pwd = password.map(p => s"PWD=${escapeAttr(p)};").getOrElse("")
    s"$cs$sep$uid$pwd"
  }

  /** JDBC driver enumeration (reference list-drivers, main.rs:341-349). */
  def listDrivers(): Seq[String] = {
    val it = java.sql.DriverManager.getDrivers
    val out = Seq.newBuilder[String]
    while (it.hasMoreElements) {
      val d = it.nextElement()
      out += s"${d.getClass.getName} ${d.getMajorVersion}.${d.getMinorVersion}"
    }
    out.result()
  }

  /** No JDBC analog of ODBC DSNs; configured sources come from the
    * GRAFT_JDBC_URLS env var (comma-separated). */
  def listDataSources(conf: Option[String] = sys.env.get("GRAFT_JDBC_URLS")): Seq[String] =
    conf.map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  private val subcommands =
    Seq("query", "insert", "exec", "lake", "list-drivers", "list-data-sources",
      "completions")

  /** Shell completion scripts (reference main.rs:363-367 generates via
    * clap_complete for bash/zsh/fish/elvish/powershell — all five shells
    * are covered; bash/zsh/fish are the ones this environment can
    * exercise live, elvish/powershell are pinned by spec). */
  def completions(shell: String): String = shell match {
    case "bash" =>
      s"""_graft() {
         |  local cur=$${COMP_WORDS[COMP_CWORD]}
         |  COMPREPLY=( $$(compgen -W "${subcommands.mkString(" ")}" -- "$$cur") )
         |}
         |complete -F _graft graft""".stripMargin
    case "zsh" =>
      s"""#compdef graft
         |_graft() {
         |  local -a subcmds
         |  subcmds=(${subcommands.map(c => s"'$c'").mkString(" ")})
         |  _describe 'command' subcmds
         |}
         |_graft "$$@"""".stripMargin
    case "fish" =>
      subcommands.map(c =>
        s"complete -c graft -n __fish_use_subcommand -a $c").mkString("\n")
    case "elvish" =>
      s"""set edit:completion:arg-completer[graft] = {|@words|
         |  if (== (count $$words) 2) {
         |    all [${subcommands.mkString(" ")}]
         |  }
         |}""".stripMargin
    case "powershell" =>
      s"""Register-ArgumentCompleter -Native -CommandName graft -ScriptBlock {
         |  param($$wordToComplete, $$commandAst, $$cursorPosition)
         |  @(${subcommands.map(c => s"'$c'").mkString(", ")}) |
         |    Where-Object { $$_ -like "$$wordToComplete*" } |
         |    ForEach-Object { [System.Management.Automation.CompletionResult]::new($$_, $$_, 'ParameterValue', $$_) }
         |}""".stripMargin
    case other => throw new IllegalArgumentException(
      s"unsupported shell '$other'; expected one of: " +
        "bash, zsh, fish, elvish, powershell")
  }
}
