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
    // the FLBA(4) re-encode of the post-pass rejects
    val tooLong = Seq((1L, Array[Byte](1, 2, 3, 4, 5))).toDF("id", "b")
      .select(col("id"), col("b").as("b",
        new MetadataBuilder().putLong(TypeMapping.FixedLenKey, 4L).build()))
    val dir = Files.createTempDirectory("graft-staging-sink")
    val e = intercept[Exception](ParquetSink.write(tooLong,
      dir.resolve("out.par").toString, ParquetSink.Options(physicalFidelity = true)))
    assert(e.getMessage.contains("fixed BINARY(4) column 'b' received"), e.getMessage)
    assert(entries(dir).isEmpty, s"the failed write left ${entries(dir)} beside its destination")
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
