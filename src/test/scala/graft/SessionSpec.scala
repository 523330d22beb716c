package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.cli.Cli

/** `graft.Session` is the one session factory and `Session.pin` the one
  * runtime policy: pinning is idempotent, reaches host sessions handed to
  * the CLI, and no second session builder or SQL-function registrar may
  * creep back into the sources. */
class SessionSpec extends AnyFunSuite {
  import TestSession._

  /** Every function name the extensions installer injects. */
  private val graftFunctions: Seq[String] = {
    val names = Seq.newBuilder[String]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(fd: FunctionDescription): Unit = names += fd._1.funcName
    })
    names.result()
  }

  test("pin is idempotent: every GraftExtensions function resolves, one TopKStrategy") {
    assert(graftFunctions.size >= 19)
    // drop the build-time registrations so the pins below are what makes
    // the functions resolvable
    val host = spark.newSession()
    graftFunctions.foreach(f => host.sql(s"DROP TEMPORARY FUNCTION $f"))
    assert(graftFunctions.forall(f => !host.catalog.functionExists(f)))
    Session.pin(host)
    Session.pin(host)
    graftFunctions.foreach(f => assert(host.catalog.functionExists(f), s"$f unresolvable"))
    assert(host.sql("SELECT zorder2(1, 2)").head().getLong(0) == 6L)
    assert(host.experimental.extraStrategies.count(_ == graft.plans.TopKStrategy) == 1)
    assert(host.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("a host session with a flipped reader policy still reads TIMESTAMP(NANOS) as nanos") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-session")
    val tables = Files.createDirectories(dir.resolve("tables"))
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = 1700000000123456789L
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(tables.resolve("nanos.parquet").toString))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", nanos))
    finally w.close()

    val host = spark.newSession()
    host.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    host.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    val (_, conf) = Cli.parse(Seq("query", "--tables-dir", tables.toString,
      dir.resolve("out.par").toString, "SELECT ts FROM nanos"))
    val out = spark.read.parquet(Cli.runQuery(conf, Some(host)).map(_.toString): _*)
    assert(out.schema("ts").dataType == LongType)
    assert(out.head().getLong(0) == nanos)
  }

  private def scalaFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** Files under `roots` matching `re`, except the `allowed` path suffixes. */
  private def offenders(roots: Seq[String], re: scala.util.matching.Regex,
      allowed: String*): Seq[String] =
    roots.map(Paths.get(_)).flatMap(scalaFiles)
      .filterNot(f => allowed.exists(f.toString.replace('\\', '/').endsWith))
      .filter(f => re.findFirstIn(Files.readString(f)).isDefined)
      .map(_.toString)

  test("lint: one SparkSession builder (graft/Session.scala), one registerAll (TimeKernels)") {
    val roots = Seq("src/main", "src/test")
    assert(Files.isRegularFile(Paths.get("src/main/scala/graft/Session.scala")),
      "run from the repository root")
    // patterns assembled at run time so this file does not match itself
    val builder = ("SparkSession" + "\\s*\\.\\s*builder").r
    val registrar = ("def " + "registerAll\\b").r
    assert(offenders(roots, builder, "graft/Session.scala").isEmpty,
      "build sessions with graft.Session.local")
    assert(offenders(roots, registrar, "graft/functions/TimeKernels.scala").isEmpty,
      "register SQL functions through GraftExtensions (graft.Session.pin)")
  }

  test("lint: one staging helper (graft/sources/Staging.scala), one pruning entry point") {
    assert(Files.isRegularFile(Paths.get("src/main/scala/graft/sources/Staging.scala")),
      "run from the repository root")
    val deleter = ("def " + "deleteRecursively\\b").r
    val tempDir = ("createTemp" + "Directory").r
    val pruneVariant = ("def (prunedFiles|readPruned)" + "\\w").r
    assert(offenders(Seq("src/main"), deleter, "graft/sources/Staging.scala").isEmpty,
      "delete trees with graft.sources.Staging.deleteRecursively")
    assert(offenders(Seq("src/main/scala/graft/sources"), tempDir,
      "graft/sources/Staging.scala").isEmpty,
      "stage writes in graft.sources through graft.sources.Staging")
    assert(offenders(Seq("src/main"), pruneVariant).isEmpty,
      "prune through SnapshotLog.prunedFiles / readPruned with a constraint list")
  }

  test("lint: directory listings go through Staging.listNames (a closed stream)") {
    val lister = ("Files" + "\\.list\\(").r
    assert(offenders(Seq("src/main"), lister, "graft/sources/Staging.scala").isEmpty,
      "list directories with graft.sources.Staging.listNames: a Files.list stream " +
        "holds a directory file descriptor until it is closed")
  }

  test("lint: one parquet footer open (PhysicalFormat.reader), no inference switch") {
    val open = ("ParquetFileReader" + "\\.open\\(").r
    val opens = Seq("src/main").map(Paths.get(_)).flatMap(scalaFiles)
      .flatMap(f => open.findAllIn(Files.readString(f)).map(_ => f.toString))
    assert(opens.size == 1 && opens.head.endsWith("graft/sources/PhysicalFormat.scala"),
      s"open parquet footers through graft.sources.FooterSchema.footer: $opens")
    val gone = ("SPARK_GRAFT_" + "NO_INFER|parquet" + "NoInfer|sniff" + "Parquet").r
    assert(offenders(Seq("src/main"), gone).isEmpty,
      "read parquet without inference through graft.sources.FooterSchema")
  }
}
