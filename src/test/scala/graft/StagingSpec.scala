package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.functions.TypeMapping
import graft.sources.{Compact, ParquetSink, Staging}

/** Every writer in `graft.sources` stages through [[Staging]]: a write
  * that throws leaves neither a partial destination file nor the staging
  * directory next to it. */
class StagingSpec extends AnyFunSuite {
  import TestSession._

  private def entries(dir: java.nio.file.Path): Seq[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toVector.sorted
    finally st.close()
  }

  test("Staging deletes its directory when the body returns and when it throws") {
    val parent = Files.createTempDirectory("graft-staging")
    val kept = Staging(parent, ".t-") { dir =>
      Files.writeString(Files.createDirectories(dir.resolve("a")).resolve("f"), "x")
      dir
    }
    assert(!Files.exists(kept))
    intercept[IllegalStateException](Staging(parent, ".t-") { dir =>
      Files.writeString(dir.resolve("f"), "x")
      throw new IllegalStateException("boom")
    })
    assert(entries(parent).isEmpty)
  }

  test("a failed non-split ParquetSink write leaves no staging dir and no destination file") {
    import spark.implicits._
    // fidelity on: the fixed BINARY(4) column gets a 5-byte value, which
    // the sink rejects before its FLBA(4) encoder
    val tooLong = Seq((1L, Array[Byte](1, 2, 3, 4, 5))).toDF("id", "b")
      .select(col("id"), col("b").as("b",
        new MetadataBuilder().putLong(TypeMapping.FixedLenKey, 4L).build()))
    val dir = Files.createTempDirectory("graft-staging-sink")
    val e = intercept[Exception](ParquetSink.write(tooLong,
      dir.resolve("out.par").toString, ParquetSink.Options(physicalFidelity = true)))
    assert(e.getMessage.contains("fixed BINARY(4) column 'b' received"), e.getMessage)
    assert(entries(dir).isEmpty, s"the failed write left ${entries(dir)} beside its destination")
  }

  /** `e` and its causes, outermost first. */
  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).toSeq

  /** A frame over `parts` partitions whose source throws at id 4100, past
    * the third 500-row batch of whichever partition holds it. */
  private def failingSource(parts: Int) = {
    val boom = org.apache.spark.sql.functions.udf { (id: Long) =>
      if (id == 4100L) throw new IllegalStateException("injected source failure") else id
    }.asNondeterministic()
    spark.range(0, 10000, 1, parts).select(boom(col("id")).as("id"))
  }

  private def failedWith(e: Throwable): Boolean =
    causes(e).exists(c => String.valueOf(c.getMessage).contains("injected source failure"))

  test("a source that throws mid-stream fails the pipelined write with its cause, leaving nothing") {
    for (parts <- Seq(1, 4); split <- Seq(false, true)) {
      val dir = Files.createTempDirectory("graft-staging-source")
      val t0 = System.nanoTime()
      val e = intercept[Exception](ParquetSink.write(failingSource(parts),
        dir.resolve("out.par").toString,
        ParquetSink.Options(batchRows = 500, rowGroupsPerFile = if (split) 2 else 0)))
      assert(failedWith(e), s"parts=$parts split=$split: lost the cause: $e")
      assert((System.nanoTime() - t0) / 1e9 < 60, s"parts=$parts split=$split: slow to fail")
      assert(entries(dir).isEmpty,
        s"parts=$parts split=$split: the failed write left ${entries(dir)}")
    }
  }

  test("a failed --incremental-column pull leaves the state file and output dir untouched") {
    val dir = Files.createTempDirectory("graft-staging-inc")
    val tables = Files.createDirectories(dir.resolve("tables"))
    ParquetSink.write(spark.range(0, 10000, 1, 1).toDF("id"), tables.resolve("t.parquet").toString)
    val state = dir.resolve("state")
    Files.writeString(state, "100")
    val stamp = Files.getLastModifiedTime(state)
    for (split <- Seq(Seq.empty[String], Seq("--row-groups-per-file", "2"))) {
      val out = Files.createDirectories(dir.resolve(s"out${split.size}"))
      val (_, conf) = graft.cli.Cli.parse(Seq("query", "--tables-dir", tables.toString,
        "--batch-size-row", "500", "--incremental-column", "id",
        "--state-path", state.toString) ++ split ++ Seq(out.resolve("t.par").toString,
        "SELECT id, CASE WHEN id = 4100 THEN raise_error('injected source failure') " +
          "ELSE id END AS v FROM t"))
      val e = intercept[Exception](graft.cli.Cli.runQuery(conf, Some(spark)))
      assert(failedWith(e), s"$split: lost the cause: $e")
      assert(Files.readString(state) == "100" && Files.getLastModifiedTime(state) == stamp,
        s"$split: the state file moved")
      assert(entries(out).isEmpty, s"$split: the failed pull left ${entries(out)}")
    }
  }

  test("a failed Compact.compact leaves no staging dir") {
    val dir = Files.createTempDirectory("graft-staging-compact")
    val in = Files.createDirectories(dir.resolve("in"))
    Files.writeString(in.resolve("x.parquet"), "not a parquet file")
    intercept[Exception](Compact.compact(spark, in.toString,
      dir.resolve("out").toString, targetBytes = 1L << 20))
    assert(entries(dir) == Seq("in"), s"the failed compaction left ${entries(dir)}")
  }
}
